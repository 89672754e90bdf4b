"""Deduplication operators for LLM-training-data pipelines
(SURVEY.md §2.4 L1/L2): exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale posture per variant (the 100 TB question each answers):
- exact: one shuffle on a 256-bit digest — the canonical first pass;
  digest keys are uniform so no skew.
- MinHash LSH: shingle → sparse vector → banded min-hash; candidate
  generation is a self-join on hash buckets (MLlib approxSimilarityJoin),
  which scales as Σ bucket² — the reason it beats the O(n²) cross join.
- SimHash: 64-bit fingerprint wholly in native expressions (xxhash64 +
  bit votes); near-dup = hamming distance on a single BIGINT, cheap to
  block on the top bits.
- n-gram Jaccard: exact verification pass, run *inside blocks* (here:
  lang) — never globally.
- embedding cosine: threshold self-join, blocked or LSH-accelerated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from . import ckpt


def normalized_text(col: str = "text") -> F.Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    trim. Collapse BEFORE trimming: trim strips only ASCII spaces, so
    a leading tab/newline would survive collapse-after-trim as a
    leading space and split otherwise-identical docs into different
    digests (code-review r8 finding; the l01/l25 oracles apply the
    same order)."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """L1: keep the lowest-id doc per normalized-content digest.

    Returns all docs annotated with (content_hash, dup_rank, is_kept) —
    callers filter `is_kept` to materialize the deduplicated corpus.
    A doc frame already carrying any of those three names is rejected
    (r10 sweep, the 73e18de class: withColumn/select('*', ...) would
    silently replace or ambiguously duplicate the user's column).
    """
    from ..functions.guards import reject_working_cols

    reject_working_cols(
        docs, ("content_hash", "dup_rank", "is_kept"), "exact_dedup"
    )
    h = F.sha2(normalized_text(text_col), 256).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        docs.select("*", h)
        .withColumn("dup_rank", F.row_number().over(w).cast("long"))
        .withColumn("is_kept", F.col("dup_rank") == 1)
    )


def shingles(col: str, n: int = 3) -> F.Column:
    """Word n-gram shingle set of a token array column (sorted,
    distinct) — the unit of Jaccard similarity.

    Built as zip_with over shifted slices (DuckDB's
    ``list_zip(l, l[2:], l[3:])`` idiom) instead of a
    transform+element_at lambda: a lambda that INDEXES the outer array
    re-inlines the array-producing expression (e.g. ``split(text)``)
    into every element access after Catalyst's projection collapse —
    O(len²) work per document (measured ~10× on the corpus scan at
    sf0.1). Here the array expression is referenced a constant number
    of times per row, so shingling stays linear however the caller
    derived the token column."""
    t = F.col(col)
    acc = t
    for k in range(n - 1):
        shifted = F.slice(t, k + 2, F.greatest(F.size(t) - (k + 1), F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat_ws(" ", a, b)
            ),
        )
    return F.sort_array(
        F.array_distinct(F.filter(acc, lambda s: s.isNotNull()))
    )


def _ngram_pair_stats(
    docs: DataFrame,
    block_col: str,
    id_col: str,
    n: int,
    max_shingle_df: int | None,
    guard_sample: float,
) -> DataFrame:
    """Shared inverted-index set-similarity core: the
    (doc_a, doc_b, n_a, n_b, n_common) pair-statistics relation over
    word-n-gram shingle sets, on the post-guard universe. Every
    exact set-similarity operator here (ngram_jaccard_pairs,
    ngram_containment_pairs) is a different FINAL SCORE over this one
    relation — the join shape, the hot-shingle guard, and the
    denominator semantics below are common to all of them.

    Self-join restricted to a blocking key so the pair space is
    Σ block² not N². Fully native (explode / count), so it doubles
    as the SQL-oracle anchor for the randomized MinHash path.

    Hot-shingle guard (`max_shingle_df`, the prefix-filter lever from
    SCALING.md): a shingle appearing in d documents contributes d²
    candidate pairs to the self-join, so one boilerplate shingle in
    10⁶ docs alone is 10¹² join rows. Shingles with document
    frequency above the cap are dropped from BOTH legs of the
    inverted index before the join, and surviving pairs are scored as
    the TRUE Jaccard of the filtered shingle sets — numerator and
    denominators always use the same post-guard universe (without
    this, denominators would keep hot shingles the numerator can no
    longer see, biasing guarded Jaccard downward and dropping
    borderline TRUE pairs). Pairs whose ONLY overlap is hot shingles
    are lost: the documented recall-for-scale trade, OFF via
    `max_shingle_df=None`. Two regimes, chosen by whether the df can
    be affordably estimated from a seeded `guard_sample` document
    fraction:

    - SAMPLED (cap·fraction ≥ 20 — the web-scale configuration, big
      cap): hot ⇔ sampled df clears the cap boundary with one-sided
      3σ slack, so sub-cap shingles are false-dropped with
      probability < ~0.1% (the full-corpus df twin re-shingles the
      corpus — measured costlier at sf0.1 than the d² rows it
      saves). Zipf makes the over-cap list tiny at a big cap, so it
      is collapsed to one row per block (collect_set) and applied to
      the per-doc shingle ARRAYS via a broadcast join +
      array_except BEFORE the explode: hot postings never enter any
      shuffle, and the carried set sizes are post-guard by
      construction — zero extra corpus passes, zero denominator
      joins.
    - EXACT (cap·fraction < 20, or guard_sample=1.0): a small cap
      can flag a large fraction of the vocabulary, so a broadcast
      hot list is the wrong shape. The df is computed as a COUNT
      window over (shingle, block) — the exact partitioning the
      self-join needs anyway, so the window, both join legs, and the
      denominator adjustment all reuse ONE corpus exchange (one
      shingling pass, no broadcast). Hot postings do reach that
      shuffle (O(d) rows on one key — bounded skew, vs the d² pair
      blowup they'd cause downstream), which is why the sampled
      regime, which drops them map-side, is the configuration for
      genuinely web-scale boilerplate. Sub-cap shingles are never
      dropped here.

    The fixtures' max shingle df is 5 at sf0.1, far under every
    boundary here, so fixture output — and the SQL oracle — is
    unchanged while the plan carries the guard (tests/test_plans.py).
    """
    if "tokens" not in docs.columns:
        # Tokenize internally (the operators.text.tokens contract) so
        # callers may pass the raw documents table directly.
        from .text import tokens as _tokens

        docs = docs.withColumn("tokens", _tokens("text"))
    s = docs.select(
        F.col(id_col),
        F.col(block_col).alias("_block"),
        shingles("tokens", n).alias("sh"),
    )
    # Inverted-index formulation (the scalable exact set-similarity
    # join): explode to (shingle, doc), self-join on shingle within a
    # block, count common shingles per pair. Only pairs sharing ≥1
    # shingle ever exist — a threshold > 0 can't lose any — versus the
    # naive blocked cross join that materializes every O(block²) pair
    # and intersects arrays per pair (measured 40× slower at sf0.1).
    # Each exploded row CARRIES its document's shingle-set size
    # (shingles are distinct per doc, so size == count): after the
    # pair join, (doc_a, doc_b) functionally determines (n_a, n_b), so
    # folding the sizes into the groupBy key yields |A|, |B| and |A∩B|
    # from ONE aggregation — no size-lookup joins, no cached shingle
    # relation kept alive across queries (the round-1 version cached
    # `s` and joined sizes back twice; this plan is strictly smaller).
    hot_counts = None
    f = guard_sample
    if max_shingle_df is not None and max_shingle_df * f < 20:
        # Too few expected observations at the cap boundary for a
        # usable estimate: fall back to the exact-df guard.
        f = 1.0
    if max_shingle_df is not None and f < 1.0:
        # SAMPLED regime. Sample the DOCUMENTS, then shingle —
        # sampling the shingled relation would still shingle every row
        # before discarding (Sample sits above the Project and
        # Catalyst does not push it down). Observed sample-df >
        # cap·fraction ⇒ hot, with one-sided 3σ slack above the
        # boundary: a sub-cap shingle's sampled df is ~Binomial(df, f)
        # with σ ≈ sqrt(cap·f) at the boundary, so requiring sampled
        # df > cap·f + 3σ holds the false-drop probability for ANY
        # sub-cap shingle below ~0.1% — the sampled guard only ever
        # fires on genuinely over-cap shingles, which at web scale sit
        # orders of magnitude above the cap anyway. The fixtures' max
        # df of 5 can never be flagged (sample threshold ≥ 100 docs).
        src = docs.sample(fraction=f, seed=42).select(
            F.col(block_col).alias("_block"),
            shingles("tokens", n).alias("sh"),
        )
        m = max_shingle_df * f
        hot = (
            src.select("_block", F.explode("sh").alias("shingle"))
            .groupBy("shingle", "_block")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > F.lit(m + 3.0 * m ** 0.5))
            .select("shingle", "_block")
        )
        # The over-cap list is SMALL at a big cap (≤ |postings|/cap
        # entries; Zipf makes it far fewer), so collapse it to one
        # array per block and subtract it from the per-doc shingle
        # ARRAYS before the explode: one broadcast left join +
        # array_except on the corpus scan — hot postings never enter
        # any shuffle, carried sizes are post-guard by construction,
        # and the hot-list leg costs ~fraction × one shingling pass.
        hot_sets = hot.groupBy("_block").agg(
            F.collect_set("shingle").alias("_hot_set")
        )
        s = (
            s.join(F.broadcast(hot_sets), "_block", "left")
            .withColumn(
                "sh",
                F.when(
                    F.col("_hot_set").isNull(), F.col("sh")
                ).otherwise(F.array_except("sh", "_hot_set")),
            )
            .drop("_hot_set")
        )
    inv = s.select(
        F.col(id_col),
        "_block",
        F.size("sh").alias("n_sh"),
        F.explode("sh").alias("shingle"),
    ).filter(
        F.col("shingle").isNotNull()
        & F.col(id_col).isNotNull()
        & F.col("_block").isNotNull()
    )
    # ^ shingles() never emits nulls and ids/blocks are non-null in
    # every fixture, so the filter drops nothing — but the self-join
    # infers exactly these IsNotNulls onto its two legs (shingle and
    # _block from the equi-keys, id from the `<` predicate), and in
    # the exact-guard regime the denominator leg must stay canonically
    # IDENTICAL below the exchange or AQE plans a third corpus
    # shingling stage instead of reusing the join legs' one.
    if max_shingle_df is not None and f >= 1.0:
        # EXACT regime (small cap, or guard_sample=1.0): the over-cap
        # list can be a large slice of the vocabulary, so no broadcast
        # — compute the exact df as a count window over
        # (shingle, block), the very partitioning the self-join
        # requires, so the window exchange is the join exchange
        # (computed once, reused by both legs AND the denominator
        # leg). Sub-cap shingles are never dropped here.
        wdf = Window.partitionBy("shingle", "_block")
        invw = inv.withColumn("_df", F.count(F.lit(1)).over(wdf))
        # Per-doc count of flagged shingles, reusing the same
        # exchange; shuffles only the hot postings (the rows the
        # filter below discards), never the corpus index. n_sh is
        # functionally dependent on the doc id but kept in the
        # grouping key ON PURPOSE: without it, column pruning strips
        # n_sh from this leg's scan, the exchange no longer
        # canonicalizes equal to the join legs', and the corpus gets
        # shingled+shuffled a second time instead of reused.
        hot_counts = (
            invw.filter(F.col("_df") > max_shingle_df)
            .groupBy(F.col(id_col), F.col("n_sh"))
            .agg(F.count(F.lit(1)).alias("_n_hot"))
            .drop("n_sh")
        )
        inv = invw.filter(F.col("_df") <= max_shingle_df).drop("_df")
    # shuffle_hash, not broadcast: the inverted index is corpus-sized
    # (one row per doc-shingle), so broadcasting it is wrong at any
    # real scale AND slower here — both legs hash-partition on the
    # same (shingle, block) key from identical subplans, so the
    # exchange is computed once and reused (measured 2.5× over the
    # broadcast plan at sf0.1).
    a, b = inv.alias("a"), inv.hint("shuffle_hash").alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._block") == F.col("b._block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if hot_counts is not None:
        # Move denominators onto the post-guard universe: subtract each
        # doc's flagged-shingle count from its carried set size. These
        # joins run on the PAIRS relation (post-aggregation — orders of
        # magnitude smaller than the postings index); hot_counts holds
        # one row per doc that contains ≥1 flagged shingle, so AQE
        # broadcasts it whenever the flagged list is genuinely small.
        # Docs whose every shingle was flagged have no surviving
        # postings and never reach `common`, so n_a/n_b stay ≥ 1.
        ha = hot_counts.select(
            F.col(id_col).alias("doc_a"), F.col("_n_hot").alias("_hot_a")
        )
        hb = hot_counts.select(
            F.col(id_col).alias("doc_b"), F.col("_n_hot").alias("_hot_b")
        )
        common = (
            common.join(ha, "doc_a", "left")
            .join(hb, "doc_b", "left")
            .withColumn(
                "n_a", F.col("n_a") - F.coalesce(F.col("_hot_a"), F.lit(0))
            )
            .withColumn(
                "n_b", F.col("n_b") - F.coalesce(F.col("_hot_b"), F.lit(0))
            )
        )
    return common.select("doc_a", "doc_b", "n_a", "n_b", "n_common")


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    guard_sample: float = 0.1,
) -> DataFrame:
    """L2 (exact variant): pairwise n-gram Jaccard within blocks —
    |A∩B| / |A∪B| ≥ threshold over the shared pair-statistics core
    (see _ngram_pair_stats for the inverted-index join shape and the
    two-regime hot-shingle guard; numerator and denominators are
    post-guard by construction)."""
    common = _ngram_pair_stats(
        docs, block_col, id_col, n, max_shingle_df, guard_sample
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return common.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = 1000,
    guard_sample: float = 0.1,
) -> DataFrame:
    """L2 (asymmetric variant): pairwise n-gram CONTAINMENT within
    blocks — keep (a, b) iff max(|A∩B|/|A|, |A∩B|/|B|) ≥ threshold,
    emitting both directional scores. This is the excerpt/quote
    detector Jaccard structurally cannot be: a 10-shingle quote
    inside a 1000-shingle document scores Jaccard ≈ 0.01 (invisible
    at any usable symmetric threshold) but containment 1.0. Same
    plan as ngram_jaccard_pairs — ONE inverted-index self-join via
    _ngram_pair_stats, different final score; under the hot-shingle
    guard both numerator and the |A|,|B| denominators are post-guard
    (the l02f/l02g denominator contract, unchanged)."""
    common = _ngram_pair_stats(
        docs, block_col, id_col, n, max_shingle_df, guard_sample
    )
    c_ab = F.round(F.col("n_common") / F.col("n_a"), 4)
    c_ba = F.round(F.col("n_common") / F.col("n_b"), 4)
    return common.select(
        "doc_a",
        "doc_b",
        c_ab.alias("cont_a_in_b"),
        c_ba.alias("cont_b_in_a"),
    ).filter(
        F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
        >= threshold
    )


def simhash64(tokens_col: str = "tokens") -> F.Column:
    """L2 (SimHash): 64-bit fingerprint of a token array, entirely in
    native expressions.

    Classic Charikar scheme: hash every token to 64 bits (xxhash64),
    per bit position count tokens with that bit set, fingerprint bit i
    = 1 iff count*2 >= n_tokens. Tokens are hashed ONCE (a transform),
    then a single aggregate folds all 63 bit-counters at once — no
    per-bit re-hash, no shuffle. Bit 63 is excluded to keep the
    fingerprint non-negative.

    Empty/NULL token arrays fingerprint to NULL, not a value: with
    zero tokens every bit-count tie (0*2 >= 0) resolves to 1, i.e.
    the all-ones fingerprint, which sits within max_hamming of any
    dense-popcount REAL document — content-free docs would become
    near-dup hubs (code-review r8 finding). NULL fingerprints fall
    out of the banded equi-join naturally.
    """
    # SQL-expression form: the Python shiftright/shiftleft wrappers only
    # accept int literals for the shift amount, but the underlying SQL
    # functions take column shifts — required here since the bit index
    # comes from sequence(0, 62) inside the lambda.
    return F.expr(
        f"""
        CASE WHEN {tokens_col} IS NULL OR size({tokens_col}) = 0
        THEN CAST(NULL AS BIGINT)
        ELSE aggregate(
          zip_with(
            aggregate(
              transform({tokens_col}, t -> xxhash64(t)),
              array_repeat(0L, 63),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, 62), i -> shiftright(h, i) & 1L),
                (a, b) -> a + b)),
            sequence(0, 62),
            (c, i) -> IF(c * 2 >= size({tokens_col}), shiftleft(1L, i), 0L)),
          0L,
          (acc, v) -> acc + v)
        END
        """
    )


SIMHASH_PORTABLE_BITS = 28
"""Width of the engine-portable SimHash fingerprint: the md5-28bit
per-token hash (the l04d/l02b engine-shared integer) caps the usable
bit budget at 28 — every bit of the fingerprint must come from a hash
both engines compute identically, and 7 hex chars of md5 is the house
28-bit form. Coarser than the 64-bit xxhash tier by design: the
portable tier buys a full value-hash oracle at the price of
resolution (28 independent votes instead of 63)."""


def simhash_portable(tokens_col: str = "tokens") -> F.Column:
    """L2 (SimHash, engine-portable): 28-bit fingerprint of a token
    array — simhash64's Charikar scheme (frequency-weighted per-bit
    majority votes, ties to 1) with the per-token hash swapped from
    Spark-private xxhash64 to the md5-28bit engine-shared integer
    (conv(substr(md5,1,7)) — the l04d fold DuckDB reproduces exactly),
    which is what makes the pair query value-hash-oracle-able. Same
    native-expression shape as simhash64: tokens hashed once, one
    aggregate folds all 28 bit counters, no shuffle, no Python; same
    NULL/empty-array stance (NULL fingerprint, never the all-ones
    near-dup hub — see simhash64's docstring)."""
    n = SIMHASH_PORTABLE_BITS
    return F.expr(
        f"""
        CASE WHEN {tokens_col} IS NULL OR size({tokens_col}) = 0
        THEN CAST(NULL AS BIGINT)
        ELSE aggregate(
          zip_with(
            aggregate(
              transform({tokens_col},
                t -> CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT)),
              array_repeat(0L, {n}),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, {n - 1}), i -> shiftright(h, i) & 1L),
                (a, b) -> a + b)),
            sequence(0, {n - 1}),
            (c, i) -> IF(c * 2 >= size({tokens_col}), shiftleft(1L, i), 0L)),
          0L,
          (acc, v) -> acc + v)
        END
        """
    )


def simhash_portable_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    max_hamming: int = 3,
) -> DataFrame:
    """L2 (SimHash, engine-portable): near-dup pairs within
    `max_hamming` bits of 28-bit portable fingerprints — the
    deterministic, value-hash-oracle-able tier of the SimHash family
    (simhash64/xxhash stays the 64-bit library operator, banded-equals-
    all-pairs-tested in tests/test_llm.py). Rides the SAME banded
    equi-join machinery as the 64-bit tier (pigeonhole over
    max_hamming+1 disjoint bands — exact, never approximate), so the
    all-pairs DuckDB oracle computes the identical result set while
    Spark runs the sub-quadratic banded plan (the l02b stance). The
    default max_hamming=3 keeps the relative cut (3/28) in line with
    the 64-bit tier's 8/63."""
    from ..functions.guards import reject_working_cols

    # withColumn REPLACES an existing column silently (the repo-wide
    # collision-guard stance, r10 class audit)
    reject_working_cols(docs, ("_pfp",), "simhash_portable_pairs")
    fp = docs.withColumn("_pfp", simhash_portable(tokens_col))
    return simhash_neardup_pairs(
        fp,
        id_col=id_col,
        fp_col="_pfp",
        block_col=block_col,
        max_hamming=max_hamming,
        n_bits=SIMHASH_PORTABLE_BITS,
    )


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    XOR — single JVM intrinsic)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    docs_with_fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    block_col: str | None = "lang",
    max_hamming: int = 8,
    n_bits: int = 63,
) -> DataFrame:
    """L2 (SimHash candidate pass): pairs within `max_hamming` bits,
    via banded fingerprint equi-join — EXACT, not approximate.

    Pigeonhole: split the `n_bits`-bit fingerprint (63 for the
    simhash64 tier, SIMHASH_PORTABLE_BITS for the portable one) into
    (max_hamming + 1) disjoint bands; two fingerprints differing in
    ≤ max_hamming bits must agree exactly on at least one band. So an
    equi-join on (band_index, band_value) generates every qualifying
    pair, and the hamming filter afterwards discards false candidates.
    Result set is identical to the all-pairs self-join (asserted in
    tests/test_llm.py) but the join is equi-key: at 100 TB it shuffles
    on narrow band values instead of materializing O(block²)
    comparisons per metadata block. `block_col` (if given) stays as an
    extra equi-key, bounding candidates to same-block pairs exactly as
    before.

    Each ≤-max_hamming pair can surface from several bands, so the
    pair set is deduplicated before scoring (hamming is deterministic
    per pair, so distinct() on the projected triple is exact).
    """
    if n_bits < 1 or n_bits > 63:
        raise ValueError(
            f"simhash_neardup_pairs: n_bits must be in [1, 63] "
            f"(non-negative BIGINT fingerprints), got {n_bits}"
        )
    # 0 <= max_hamming <= n_bits-1: the pigeonhole needs max_hamming+1
    # NON-EMPTY disjoint bands out of n_bits bits — beyond that some
    # band has width 0, its mask is 0, and the equi-join silently
    # degenerates to a per-block cross product; negative values
    # divide by zero below (r10 sweep, the ann_lsh fail-loudly
    # stance).
    if not 0 <= max_hamming <= n_bits - 1:
        raise ValueError(
            f"simhash_neardup_pairs: max_hamming must be in "
            f"[0, {n_bits - 1}] ({n_bits}-bit fingerprints), got "
            f"{max_hamming}"
        )
    bands = max_hamming + 1
    bounds = [n_bits * b // bands for b in range(bands + 1)]
    band_structs = []
    for i in range(bands):
        lo, width = bounds[i], bounds[i + 1] - bounds[i]
        band_structs.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col(fp_col), lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
    cols = [id_col, fp_col] + ([block_col] if block_col else [])
    s = docs_with_fp.select(
        *cols, F.explode(F.array(*band_structs)).alias("_bv")
    ).select(*cols, F.col("_bv.band").alias("_band"), F.col("_bv.val").alias("_bval"))
    # shuffle_hash: the banded index is corpus-sized (bands+1 rows per
    # doc) — never broadcast it; identical legs hash-partition on the
    # same key and the exchange is reused (measured 2.2× at sf0.1).
    a, b = s.alias("a"), s.hint("shuffle_hash").alias("b")
    cond = (
        (F.col("a._band") == F.col("b._band"))
        & (F.col("a._bval") == F.col("b._bval"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    d = hamming64(F.col(f"a.{fp_col}"), F.col(f"b.{fp_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            d.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hash_tables: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    vocab_size: int = 1 << 20,
) -> DataFrame:
    """L2 (MinHash LSH): shingle → binarized term vector → MinHashLSH
    → approxSimilarityJoin. Returns (doc_a, doc_b, jaccard_dist).

    Randomized but seeded; registered rows-only (SURVEY.md §2 L2) with
    the exact n-gram Jaccard as its oracle anchor in tests.
    MLlib's approxSimilarityJoin explodes each row into its hash
    buckets and self-joins on (table, bucket) — Σ bucket², the textbook
    LSH candidate bound.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, NGram, RegexTokenizer

    # toLowercase=False: the exact anchor (ngram_jaccard_pairs) shingles
    # raw case-sensitive tokens, so the MinHash estimate must target the
    # same Jaccard — lowercasing here would silently estimate a
    # different similarity on mixed-case corpora.
    # NULL text cannot shingle, and MLlib transformers throw on null
    # inputs rather than propagating them — drop such rows at the
    # boundary (they can have no near-duplicates; same contract as
    # the empty-shingles filter below).
    docs = docs.filter(F.col(text_col).isNotNull())
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="_toks", pattern=r"\s+", toLowercase=False
    ).transform(docs)
    ng = NGram(n=3, inputCol="_toks", outputCol="_shingles").transform(tok)
    ng = ng.filter(F.size("_shingles") > 0)
    # Empty/degenerate corpora (no docs, all-NULL text, every doc
    # < 3 tokens) must return the empty pair set, not crash
    # CountVectorizer.fit with 'vocabulary size should be > 0' — the
    # sibling embedding/semantic tiers short-circuit the same way
    # (r10 sweep; the 100 TB failure mode is a crashed job, not an
    # empty join). Bounded eager probe, like num_blocks sizing.
    if ng.isEmpty():
        return docs.sparkSession.createDataFrame(
            [], f"doc_a {dict(docs.dtypes)[id_col]}, "
                f"doc_b {dict(docs.dtypes)[id_col]}, jaccard_dist double"
        )
    cv_model = CountVectorizer(
        inputCol="_shingles", outputCol="_vec", binary=True,
        vocabSize=vocab_size,
    ).fit(ng)
    # MinHashLSH requires ≥1 non-zero entry. The non-empty-shingles
    # filter guarantees it ONLY while the vocabulary is complete:
    # CountVectorizer silently keeps the top-df `vocabSize` shingles
    # (default 2^18 — a few MB of text exceeds it), and a doc made of
    # dropped shingles vectorizes to all zeros → MinHashLSH throws
    # mid-job, while survivors estimate a DIFFERENT Jaccard than the
    # exact anchor. Fail actionably instead (r10 sweep): the fitted
    # vocabulary hitting the cap exactly is the truncation signal.
    if len(cv_model.vocabulary) >= vocab_size:
        raise ValueError(
            f"minhash_neardup_pairs: shingle vocabulary hit "
            f"vocab_size={vocab_size} — the top-df truncation would "
            f"silently change the estimated Jaccard and can zero out "
            f"unique-content docs; raise vocab_size (driver memory "
            f"~vocab strings) or dedup with simhash/ngram_jaccard"
        )
    vec = cv_model.transform(ng)
    lsh = MinHashLSH(
        inputCol="_vec", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed
    ).fit(vec)
    # approxSimilarityJoin filters distCol STRICTLY below the
    # threshold; the epsilon makes the boundary inclusive so a pair at
    # estimated Jaccard == jaccard_threshold is kept, matching the
    # exact anchor's `jaccard >= threshold` semantics.
    joined = lsh.approxSimilarityJoin(
        vec, vec, threshold=1.0 - jaccard_threshold + 1e-9,
        distCol="jaccard_dist",
    )
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


MINHASH_PRIME = 2_147_483_647
"""2^31 - 1 (Mersenne prime): the affine-hash modulus. a*x + b stays
below 2^59 for 28-bit shingle hashes, so every intermediate is an
exactly-representable BIGINT on BOTH engines — DuckDB errors on
64-bit overflow where the JVM wraps, so JVM wraparound arithmetic is
not portable (the l04d mod-2^30 stance)."""


def minhash_coeffs(num_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic affine-hash coefficients h_i(x) = (a_i*x + b_i)
    mod MINHASH_PRIME, derived from two public mixing constants
    (Knuth's multiplicative 2654435761, Blake2/Chacha's 1779033703)
    so the SAME integers can be interpolated into the DuckDB oracle
    text (the L48_QUERY_TERMS oracle-constant pattern). a_i is never
    0 for any sane num_perm (the multiplier is coprime to the prime
    modulus and i+1 < MINHASH_PRIME)."""
    a = [(2654435761 * (i + 1)) % MINHASH_PRIME for i in range(num_perm)]
    b = [(1779033703 * (i + 1) + 97) % MINHASH_PRIME for i in range(num_perm)]
    return a, b


def minhash_portable_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    threshold: float = 0.2,
) -> DataFrame:
    """L2 (MinHash LSH, engine-portable): banded min-hash candidate
    pairs scored by signature agreement — the deterministic,
    value-hash-oracle-able form of minhash_neardup_pairs (which rides
    MLlib's seeded MinHashLSH and can only ever be rows-only).

    Per doc: word-n-gram shingles → 28-bit md5 base hash per shingle
    (conv(substr(md5,1,7)) — the l04d engine-shared integer) → num_perm
    affine permutations h_i(x) = (a_i*x + b_i) mod 2^31-1 → signature
    sig_i = min over shingles. ALL row-local native expressions: the
    signature needs no shuffle, no fit, no Python. Pairs are generated
    by the r=1 banded self-join (each signature component is its own
    band — MLlib's numHashTables layout) and kept when the estimated
    Jaccard, |{i: sig_a[i]=sig_b[i]}| / num_perm, clears `threshold`.

    The banding is provably lossless for the OUTPUT: any pair passing
    `threshold` > 0 agrees on >= 1 component and therefore shares a
    band, so the all-pairs DuckDB oracle computes the identical result
    set while Spark runs the sub-quadratic inverted-index plan (the
    l02 exact-Jaccard oracle stance). At 100 TB: explode cost is
    num_perm rows/doc (16 here vs bands+1 in the SimHash tier), bucket
    join scales as sum(bucket^2) on 31-bit min-hash keys — uniform by
    construction except true near-dup clusters, which are the signal.
    """
    g = shingles(tokens_col, n)
    xs = F.transform(
        g,
        lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast(
            "long"
        ),
    )
    a_c, b_c = minhash_coeffs(num_perm)
    p = F.lit(MINHASH_PRIME).cast("long")

    # One-arg lambda on purpose: F.transform passes the array INDEX as
    # a second argument when the lambda's arity is 2, so `lambda x,
    # i=i` would shadow the coefficient index with the element index.
    def _sig_component(i: int) -> F.Column:
        a_i = F.lit(a_c[i]).cast("long")
        b_i = F.lit(b_c[i]).cast("long")
        return F.array_min(
            F.transform(F.col("_xs"), lambda x: (a_i * x + b_i) % p)
        )

    sig = F.array(*[_sig_component(i) for i in range(num_perm)])
    base = (
        docs.withColumn("_xs", xs)
        .filter(F.size("_xs") > 0)
        .select(id_col, sig.alias("_sig"))
    )
    bands = base.select(
        id_col, "_sig", F.posexplode("_sig").alias("_band", "_bval")
    )
    # Same leg shape as simhash_neardup_pairs: corpus-sized banded
    # index, identical legs hash-partition on the same key, never
    # broadcast.
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    cand = a.join(
        b,
        (F.col("a._band") == F.col("b._band"))
        & (F.col("a._bval") == F.col("b._bval"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("a._sig"), F.col("b._sig"), lambda x, y: x == y
            ),
            lambda e: e,
        )
    )
    return (
        cand.select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(agree / F.lit(float(num_perm)), 4).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    tile_size: int = 2048,
    num_blocks: int | None = None,
) -> DataFrame:
    """L2 (embedding cosine): exact near-duplicate pairs by cosine.

    Distributed block-pair GEMM: every vector is hash-assigned to one
    of B blocks (pmod(xxhash64(id), B) — uniform, skew-free), each row
    is replicated to the block PAIRS it participates in via
    explode(sequence(...)), and a cogrouped applyInPandas computes one
    BLAS matmul per (block_i, block_j) group, emitting only
    above-threshold pairs with id_a < id_b. Exact — every pair lands in
    exactly one of the B(B+1)/2 groups.

    Scale shape: ONE plan, two shuffles (one per cogroup side), no
    driver-side data path (the previous design collected all ids plus
    every tile's vectors to the driver and unioned n/tile separate
    plans — a driver OOM at 100 TB). Replication factor is ~B/2 per
    side, i.e. total shuffled volume n·B ≈ n²/tile_size rows — the
    same aggregate I/O the tiled rescan paid, now borne by the cluster.
    Task memory is two tile_size×dim float64 matrices plus a
    tile_size² sims matrix (~2048² × 8 B = 34 MB). Exact all-pairs is
    inherently O(n²) compute; at 100 TB use ann_lsh_topk / IVF for the
    recall<1 shortcut and keep this for within-partition or candidate
    verification duty.

    The only driver-side action is a count() to size B (scalar, safe);
    pass `num_blocks` to keep the plan fully lazy.
    """
    import numpy as np
    import pandas as pd

    out_schema = "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"
    # The BIGINT pair schema is a hard contract (the UDF casts ids to
    # int64): fail at the boundary with the alternative named, not
    # mid-job with an opaque executor ValueError (code-review r8
    # finding; semantic_neardup_pairs is the any-id-type sibling).
    id_type = dict(emb.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"embedding_neardup_pairs: {id_col!r} is {id_type}, but "
            "the exact GEMM tier emits BIGINT pair ids — use "
            "semantic_neardup_pairs for string/UUID ids"
        )
    # NULL vectors cannot participate in cosine similarity (np.array
    # over a batch containing None degrades to object dtype and the
    # GEMM throws) — drop them at the boundary.
    # NULL/NaN ELEMENTS ride the same documented drop as NULL vectors
    # (r10 sweep): numpy converts a None element to NaN, the GEMM
    # makes the whole sims row NaN, and NaN > threshold is False —
    # every pair for that doc silently vanishes (the exact failure
    # mode the zero-norm guard below defends against).
    src = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).filter(
        F.col("_vec").isNotNull()
        & ~F.exists("_vec", lambda x: x.isNull() | F.isnan(x))
    )
    if num_blocks is None:
        n = src.count()
        if n == 0:
            return emb.sparkSession.createDataFrame([], out_schema)
        num_blocks = -(-n // tile_size)  # ceil
    blk = F.pmod(F.xxhash64(F.col("_id")), F.lit(num_blocks)).cast("int")
    # A side of group (i, j): block-i rows, replicated to every j >= i.
    # B side of group (i, j): block-j rows, replicated to every i <= j.
    a_side = src.withColumn("bi", blk).withColumn(
        "bj", F.explode(F.sequence(F.col("bi"), F.lit(num_blocks - 1)))
    )
    # The b side re-aliases every column so its attributes get FRESH
    # expression ids: both cogroup children otherwise descend from the
    # same `src` projection and share ids, and with a filter in the
    # shared lineage Catalyst's pruning mis-resolved the right child's
    # columns against the left's, handing the UDF a right-side frame
    # with only the grouping keys (observed under the null-vector
    # filter; self-cogroup + duplicate ids is the trigger).
    b_src = src.select(
        F.col("_id").alias("_id"), F.col("_vec").alias("_vec")
    )
    b_side = b_src.withColumn("bj", blk).withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("bj")))
    )

    def block_pair_sims(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if not len(left) or not len(right):
            return empty
        widths = {len(v) for v in left["_vec"]} | {
            len(v) for v in right["_vec"]
        }
        if len(widths) != 1:
            # np.array would raise an opaque inhomogeneous-shape
            # error mid-task; name the defect (r10 sweep, the
            # ann/pq dim-guard class)
            raise ValueError(
                f"embedding_neardup_pairs: mixed vector widths "
                f"{sorted(widths)} in one block — cosine over ragged "
                f"embeddings is undefined"
            )
        ma = np.array(list(left["_vec"]), dtype=np.float64)
        mb = np.array(list(right["_vec"]), dtype=np.float64)
        ida = left["_id"].to_numpy(dtype=np.int64)
        idb = right["_id"].to_numpy(dtype=np.int64)
        # Zero-norm guard (same convention as semantic_neardup_pairs):
        # a zero vector would make its whole row/column NaN, and
        # NaN > threshold is False — pairs silently vanish instead of
        # scoring 0. Dividing by 1 keeps the dot product 0 == cos 0.
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        sims = (ma @ mb.T) / np.outer(na, nb)
        mask = np.round(sims, 4) > threshold
        if left["bi"].iat[0] == left["bj"].iat[0]:
            # Diagonal group: both sides hold the same rows, so every
            # pair appears as two mirrored cells — keep id_a < id_b.
            mask &= ida[:, None] < idb[None, :]
        rows, cols = np.where(mask)
        if not len(rows):
            return empty
        # Cross-block ids are hash-assigned, not ordered between
        # blocks: orient each emitted pair as (min, max).
        lo = np.minimum(ida[rows], idb[cols])
        hi = np.maximum(ida[rows], idb[cols])
        return pd.DataFrame(
            {
                "id_a": lo,
                "id_b": hi,
                "cos_sim": np.round(sims[rows, cols], 4),
            }
        )

    return (
        a_side.groupby("bi", "bj")
        .cogroup(b_side.groupby("bi", "bj"))
        .applyInPandas(block_pair_sims, schema=out_schema)
    )


# Label-propagation rounds run before what is left unsettled goes to
# star contraction. Near-dup graphs are clique-like and settle within
# them (perfbench corpus-dedup: 3 rounds on each of seeds 1-10).
LP_ROUNDS = 4


def connected_components(
    edges: DataFrame, max_iter: int = 50, durable: bool = False
) -> DataFrame:
    """Cluster near-dup pairs into groups (no GraphFrames dependency).

    edges: (doc_a, doc_b). Returns (doc_id, component) where component
    is the minimum doc id reachable. Two phases:

    1. Smallest-id label propagation, one groupBy shuffle a round, for
       at most LP_ROUNDS rounds. It needs a round per hop of diameter,
       and near-dup graphs (overwhelmingly tiny cliques) settle here;
       the operator then returns.
    2. Otherwise the edges are contracted to the graph of the labels
       they join, and alternating large-star/small-star (Kiveris et
       al., "Connected Components in MapReduce and Beyond", SoCC 2014)
       finishes it in a number of rounds that grows with the log of
       component size, not with diameter (a sorted 10⁴-node path
       takes 14 star rounds). Each doc takes its label's star root.

    max_iter bounds the star rounds. Running out RAISES: partial
    labels would split a component, a wrong answer, not a slow one.
    Both phases stop on counts observed in their rounds' own pin jobs,
    so no probe action runs.

    durable=True swaps the per-round localCheckpoint for a RELIABLE
    checkpoint (operators/ckpt.py) — the executor-loss-recoverable
    form long pipelines should use; the default stays the cheap
    local pin (the documented trade).
    """
    fwd = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    with ckpt.Scope(durable) as s:
        # Cache the symmetrized edge list: it is duplicated-pairs-sized
        # (tiny next to the corpus) but its LINEAGE is the full
        # set-similarity join — without the cache every round
        # re-executes that join (measured: l02e paid the Jaccard plan
        # once per round).
        sym = s.cache(
            fwd.union(
                edges.select(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                )
            )
        )
        # Rounds pin (localCheckpoint), NOT cache: each round's plan
        # references the previous state at least twice (propagate +
        # union, or the two symmetrize unions), so a cache-only loop
        # doubles the analyzed logical plan every round and Catalyst
        # analysis itself goes exponential — ~2^k plan nodes by round
        # k, measured minutes of pure planning by round 16 on a
        # 40-edge path. Truncating lineage keeps planning O(1) per
        # round; the trade is the usual one (checkpointed partitions
        # are not recomputable on executor loss — same documented
        # trade as pagerank's result pin).
        labels = s.pin(
            sym.groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("dst").alias("component"))
            .select(
                "doc_id", F.least("component", "doc_id").alias("component")
            )
        )
        for _ in range(LP_ROUNDS):
            # propagate: my new label = min(my label, neighbors' labels);
            # the same aggregate keeps my old label (_self rows), so the
            # round's own pin counts the changed nodes — a node without
            # an old label counts as changed
            prop, seen = s.pin(
                sym.join(labels, sym.src == labels.doc_id)
                .select(F.col("dst").alias("doc_id"), "component", F.lit(False))
                .union(labels.select("doc_id", "component", F.lit(True)))
                .toDF("doc_id", "component", "_self")
                .groupBy("doc_id")
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("_self"), F.col("component"))).alias("_old"),
                ),
                changed=F.count(
                    F.when(~F.col("component").eqNullSafe(F.col("_old")), 1)
                ),
            )
            # The old generation's pinned blocks are dead once the next
            # one is pinned — free them now (the loop would otherwise
            # accumulate rounds × |V| blocks).
            s.release(labels)
            labels = prop
            if seen["changed"] == 0:
                # pinned without _old: the caller gets one pinned
                # handle it can release
                return s.keep(s.pin(labels.select("doc_id", "component")))
        labels = labels.select("doc_id", "component")
        # The label graph: one edge (greatest, least) per pair of
        # differing labels that some edge joins, read from the cached
        # `sym` (`edges` would re-run the set-similarity join).
        cur, seen = s.pin(
            sym.join(labels.toDF("src", "_ls"), "src")
            .join(labels.toDF("dst", "_ld"), "dst")
            .where(F.col("_ls") != F.col("_ld"))
            .select(
                F.greatest("_ls", "_ld").alias("a"),
                F.least("_ls", "_ld").alias("b"),
            )
            .distinct(),
            n=F.count(F.lit(1)),
        )
        # empty: propagation settled in its last round
        if seen["n"] == 0:
            return s.keep(s.pin(labels))
        for _ in range(max_iter):
            # counted on the round's output, which its pin reads in
            # full (an observation nested at a join input counts only
            # the rows the join pulls)
            nxt, seen = s.pin(
                _star(_star(cur, large=True), large=False),
                unsettled=F.count(F.when(F.col("_unsettled"), 1)),
            )
            # cur is dead once its successor is pinned
            s.release(cur)
            cur = nxt
            if seen["unsettled"] == 0:
                # every non-root label has one edge, to its root
                root = cur.toDF("component", "_root", "_unsettled")
                return s.keep(
                    s.pin(
                        labels.join(root, "component", "left").select(
                            "doc_id",
                            F.coalesce("_root", "component").alias("component"),
                        )
                    )
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} star "
            "rounds; this bounds components of ~2^(max_iter/2) labels — "
            "raise max_iter"
        )


def _star(cur: DataFrame, large: bool) -> DataFrame:
    """Large-star or small-star (Kiveris et al.) over the edge list
    `cur` (a > b, distinct), returning one in the same form. With m(u)
    the least of u and its neighbours, each node u links its selected
    neighbours v straight to m(u): large selects v > u; small selects
    v <= u and links u itself, so the u → m(u) chain survives.

    Small-star sets `_unsettled` on the link of each node u of `cur`
    with a smaller neighbour and more than one neighbour. There is
    none exactly when `cur` is a star forest rooted at its component
    minima: the fixpoint, which both stars return unchanged."""
    e = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = (
        e.groupBy("u")
        .agg(F.min("v").alias("_mn"), F.count(F.lit(1)).alias("_deg"))
        .select(
            "u",
            F.least("_mn", "u").alias("m"),
            ((F.col("_mn") < F.col("u")) & (F.col("_deg") > 1)).alias(
                "_unsettled"
            ),
        )
    )
    sel = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
    out = (
        e.join(m, "u")
        .filter(sel)
        .select(
            F.col("v").alias("a"),
            F.col("m").alias("b"),
            F.lit(False).alias("_unsettled"),
        )
    )
    if not large:
        out = out.union(
            m.select(F.col("u").alias("a"), F.col("m").alias("b"), "_unsettled")
        )
    return (
        out.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("_unsettled").alias("_unsettled"))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word-n-gram with an evaluation/benchmark document.

    The standard pre-training hygiene pass (the public C4/GPT-3/LLaMA
    recipes all ship a variant): any train doc overlapping an eval
    prompt inflates benchmark scores and must be dropped. Returns
    (id, n_benchmark_hits) for CONTAMINATED train docs only — the
    join is the filter; clean docs never leave the scan.

    Scale shape: the benchmark side is tiny compared to the corpus
    (eval suites are thousands of docs vs billions), so its exploded
    shingle set is BROADCAST — the 100 TB corpus streams map-side
    through the hash join with no shuffle at all; the only exchange
    is the final per-doc aggregate over the (small) hit set. Both
    legs reuse `shingles`, so the train side stays linear per row.
    """
    tr = train.select(
        F.col(id_col), F.explode(shingles("tokens", n)).alias("shingle")
    )
    be = benchmark.select(
        F.col(id_col).alias("_bench_id"),
        F.explode(shingles("tokens", n)).alias("shingle"),
    )
    return (
        tr.join(F.broadcast(be), "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("_bench_id").alias("n_benchmark_hits"))
    )


def decontaminate_frac(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    min_frac: float = 0.5,
) -> DataFrame:
    """Thresholded decontamination: flag training documents whose
    DISTINCT word-n-gram overlap with the benchmark set reaches
    `min_frac` of the document's own shingles — the graded companion
    to `decontaminate`'s any-hit filter. Real recipes use both: any-
    hit for short eval prompts (one leaked answer string is fatal),
    a fraction threshold for long-document benchmarks where a single
    common phrase is noise but majority overlap is a leaked document.

    Returns, for every train doc with ≥1 hit:
    (id, n_shingles, n_hit_shingles, hit_frac, is_contaminated).
    Clean docs never leave the scan (the broadcast join IS the
    filter, as in `decontaminate`); the per-doc shingle total rides
    along from a row-local size() — no second corpus pass.

    Scale shape identical to `decontaminate`: benchmark shingles
    broadcast, corpus streams map-side, one per-doc aggregate.
    """
    # shingles() already returns a sorted DISTINCT array — no extra
    # array_distinct pass.
    tr = train.select(
        F.col(id_col),
        shingles("tokens", n).alias("_sh"),
    ).select(
        F.col(id_col),
        F.size("_sh").alias("n_shingles"),
        F.explode("_sh").alias("shingle"),
    )
    be = benchmark.select(
        F.explode(shingles("tokens", n)).alias("shingle")
    ).distinct()
    frac = F.col("n_hit_shingles") / F.col("n_shingles")
    return (
        tr.join(F.broadcast(be), "shingle")
        .groupBy(id_col, "n_shingles")
        .agg(F.countDistinct("shingle").alias("n_hit_shingles"))
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_hit_shingles").cast("long").alias("n_hit_shingles"),
            F.round(frac, 4).alias("hit_frac"),
            (frac >= min_frac).alias("is_contaminated"),
        )
    )


def cluster_representatives(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Keep-best near-dup resolution: one representative per cluster.

    `components` is connected_components() output — only docs that
    appear in some near-dup pair; every other doc is its own singleton
    cluster (coalesce to own id after a LEFT join). The winner per
    cluster is the highest-`quality_col` doc, id-tiebroken, so the
    choice is total and deterministic.

    Scale shape: the component map is proportional to the DUPLICATED
    subset, not the corpus, so it is broadcast and the corpus never
    shuffles for the join. The row_number window partitions by
    component — millions of tiny groups, uniform, skew-free (the
    giant component that would skew this is exactly what near-dup
    thresholds prevent).
    """
    lab = docs.join(F.broadcast(components), id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(quality_col), F.col(id_col)
    )
    return lab.select(
        id_col,
        "component",
        quality_col,
        (F.row_number().over(w) == 1).alias("is_representative"),
    )


def semantic_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_clusters: int = 16,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """L2 (semantic/clustered): embedding near-dup pairs with KMeans
    clusters as the blocking key — the recall<1 scale path beside the
    exact block-pair GEMM.

    Shape: fit a seeded coarse quantizer, then MULTI-ASSIGN every
    vector to its `n_assign` nearest centroids (the standard
    boundary-pair fix: single assignment loses any pair straddling a
    centroid boundary — measured 0.35 recall on the fixtures vs 0.68
    with n_assign=2). The assignment is a pandas UDF against the
    broadcast centroid matrix (tiny), the candidate join is a plain
    hash equi-join on cluster id, and the TRUE cosine is scored
    inside clusters, so precision is exact — only recall is
    approximate, and it is measured in tests, not assumed. Pair space
    is Σ (n_assign·cluster)² ≈ n_assign²/n_clusters · n² — tune
    n_clusters ∝ corpus size to hold block sizes constant.

    Like fit_fpgrowth, KMeans.fit is an action: the fit input is
    cached for the fit and unpersisted before returning. Pairs
    sharing two clusters are deduplicated (cosine is deterministic
    per pair, so distinct() is exact).
    """
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    spark = emb.sparkSession
    # The quantizer fit is control-plane work: each KMeans iteration
    # is a Spark job, so fitting on the corpus's full partitioning
    # pays (init passes + maxIter) × per-task overhead for centroids
    # that a bounded sample determines just as well. Coalescing the
    # fit input to a few partitions (and, at real scale, sampling it
    # — the standard IVF recipe trains the coarse quantizer on ≪ the
    # corpus) keeps the fit cheap; the ASSIGNMENT below stays fully
    # distributed over the original partitioning.
    # NULL vectors can't cluster or score — drop at the boundary.
    emb = emb.filter(F.col(vec_col).isNotNull())
    c = (
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_arr")
        )
        .withColumn("_v", array_to_vector("_arr"))
        .coalesce(4)
    )
    c = c.cache()
    try:
        # KMeans.fit throws on an empty dataset; an empty corpus has
        # no near-dup pairs — return the empty contract instead of
        # crashing the pipeline stage (the fit is already eager, so
        # the bounded isEmpty probe adds one trivial job).
        if c.isEmpty():
            id_dt0 = emb.schema[id_col].dataType.simpleString()
            return spark.createDataFrame(
                [], f"id_a {id_dt0}, id_b {id_dt0}, cos_sim double"
            )
        model = KMeans(
            k=n_clusters,
            seed=seed,
            maxIter=8,
            featuresCol="_v",
            predictionCol="_cid",
        ).fit(c)
        centers = np.array([np.asarray(x) for x in model.clusterCenters()])
        b_centers = spark.sparkContext.broadcast(centers)

        def _assign(vecs):
            # No inline type hints: `from __future__ import annotations`
            # stringifies them, breaking pandas_udf hint inference.
            m = np.array(list(vecs), dtype=np.float64)
            d = ((m[:, None, :] - b_centers.value[None, :, :]) ** 2).sum(
                axis=2
            )
            idx = np.argsort(d, axis=1)[:, :n_assign]
            return pd.Series(list(idx.astype("int32")))

        assign_cids = pandas_udf(_assign, returnType="array<int>")
        assigned = emb.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_arr"),
        ).withColumn("_cid", F.explode(assign_cids(F.col("_arr"))))

        # Score inside each cluster with one BLAS matmul per block
        # (grouped applyInPandas): a single shuffle on the cluster id
        # replaces the self-join, and the cosine runs vectorized
        # instead of as an interpreted per-pair expression fold —
        # measured 2.4x on the full operator. Task memory is one
        # block's matrix + its sims triangle; n_clusters is the lever
        # that bounds it (tune ∝ corpus size).
        # The pair-id output type follows the INPUT id column (ids may
        # be strings/UUIDs, not just BIGINT); ordering uses np.where
        # over a comparison, which works for any comparable dtype
        # (object arrays included), unlike np.minimum's ufunc path.
        id_dt = emb.schema[id_col].dataType.simpleString()

        def _block(pdf):
            ids = pdf[id_col].to_numpy()
            if len(ids) < 2:
                return pd.DataFrame(
                    {
                        "id_a": ids[:0],
                        "id_b": ids[:0],
                        "cos_sim": np.array([], dtype=np.float64),
                    }
                )
            m = np.array(pdf["_arr"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m / norms[:, None]) @ (m / norms[:, None]).T
            iu, ju = np.triu_indices(len(ids), k=1)
            lo_first = ids[iu] <= ids[ju]
            id_a = np.where(lo_first, ids[iu], ids[ju])
            id_b = np.where(lo_first, ids[ju], ids[iu])
            s = np.round(sims[iu, ju], 4)
            keep = s > threshold
            return pd.DataFrame(
                {"id_a": id_a[keep], "id_b": id_b[keep], "cos_sim": s[keep]}
            )

        return (
            assigned.groupBy("_cid")
            .applyInPandas(
                _block, schema=f"id_a {id_dt}, id_b {id_dt}, cos_sim DOUBLE"
            )
            .distinct()
        )
    finally:
        c.unpersist()


def decontaminate_attribution(
    train: DataFrame,
    benchmark: DataFrame,
    bench_col: str,
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Decontamination with per-BENCHMARK attribution: for every
    contaminated train document, the distinct-shingle overlap against
    EACH benchmark suite separately — (id, benchmark, n_shingles,
    n_hit_shingles, hit_frac, is_top) with is_top marking the doc's
    highest-overlap suite (hit-count desc, suite-name tiebreak). The
    operational upgrade of l31's single-pool fraction: a real
    pipeline decontaminates against MANY suites at once, and "which
    benchmark leaked" decides whether to drop the doc or file a bug
    against the suite (a GSM8K answer string and a Wikipedia-derived
    MMLU passage are very different incidents).

    Scale shape: identical to `decontaminate_frac` — ALL suites'
    shingles ride ONE broadcast (benchmarks are thousands of docs vs
    the corpus's billions; the suite column is just one more narrow
    field), the corpus streams map-side through the hash join, one
    (doc, suite) aggregate, and the is_top rank-1 window runs on the
    HIT relation keyed by doc (≤ |suites| rows per doc — never
    corpus-wide). Clean docs never leave the scan.
    """
    tr = train.select(
        F.col(id_col),
        shingles("tokens", n).alias("_sh"),
    ).select(
        F.col(id_col),
        F.size("_sh").alias("n_shingles"),
        F.explode("_sh").alias("shingle"),
    )
    be = benchmark.select(
        F.col(bench_col).alias("benchmark"),
        F.explode(shingles("tokens", n)).alias("shingle"),
    ).distinct()
    hits = (
        tr.join(F.broadcast(be), "shingle")
        .groupBy(id_col, "n_shingles", "benchmark")
        .agg(F.countDistinct("shingle").alias("n_hit_shingles"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("n_hit_shingles"), F.asc("benchmark")
    )
    frac = F.col("n_hit_shingles") / F.col("n_shingles")
    return hits.select(
        F.col(id_col),
        "benchmark",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hit_shingles").cast("long").alias("n_hit_shingles"),
        F.round(frac, 4).alias("hit_frac"),
        (F.row_number().over(w) == 1).alias("is_top"),
    )


def fuzzy_blocked_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 2,
    head_chars: int = 80,
    max_distance: int = 10,
    max_block_size: int | None = 1000,
) -> DataFrame:
    """Typo-tolerant near-dup / entity-resolution join: (doc_a, doc_b,
    edit_distance) for pairs whose `head_chars`-char heads are within
    Levenshtein `max_distance`, candidate-generated by a
    first-`block_tokens`-token blocking key — never all-pairs (edit
    distance is O(len²) per pair; the block join bounds the pair
    space first).

    `max_block_size` is the hot-block df-cap (the l02g hot-shingle
    guard generalized to blocking keys) and it DEFAULTS ON: a
    universally shared prefix otherwise makes its block's pair count
    ∝ block² — the measured ∝SF² growth of the uncapped form on
    fixed-vocabulary corpora (l38's 0.98/decade exponent). Blocks
    holding more than `max_block_size` documents are dropped before
    the self-join; the hot-block relation is tiny by construction, so
    the anti-join broadcasts. Pass `max_block_size=None` for the
    exact uncapped tier (the oracle'd l38 registration does,
    explicitly and documented) — at 100 TB also block on a longer
    prefix or (prefix, length-bucket) so the cap stays a backstop,
    not the primary bound.
    """
    from .text import tokens

    b = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(
            F.slice(tokens(text_col), 1, int(block_tokens)), " "
        ).alias("blk"),
        F.substring(text_col, 1, int(head_chars)).alias("head"),
    )
    if max_block_size is not None:
        hot = (
            b.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(max_block_size))
            .select("blk")
        )
        b = b.join(F.broadcast(hot), "blk", "left_anti")
    b = b.withColumn("_hlen", F.length("head"))
    a, c = b.alias("a"), b.hint("shuffle_hash").alias("c")
    # project the distance ONCE, filter on the alias: Catalyst does
    # not CSE across Filter/Project, and the O(len^2) kernel is the
    # dominant per-pair cost. The length band |len_a - len_b| <=
    # max_distance rides IN the join condition: it is a true lower
    # bound of Levenshtein (each length unit of difference costs >= 1
    # edit), so it drops only pairs that could never pass — fewer
    # O(len^2) kernel evaluations, identical results (tested), and
    # the band is evaluated from two cheap precomputed ints during
    # the hash-join probe, before the kernel ever runs.
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.doc_id") < F.col("c.doc_id"))
            & (
                F.abs(F.col("a._hlen") - F.col("c._hlen"))
                <= F.lit(int(max_distance))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.head"), F.col("c.head")).alias(
                "edit_distance"
            ),
        )
        .filter(F.col("edit_distance") <= int(max_distance))
    )



def source_shingle_overlap(
    docs: DataFrame,
    group_col: str = "source",
    tokens_col: str = "tokens",
    n: int = 3,
    include_disjoint: bool = False,
) -> DataFrame:
    """Corpus-level overlap matrix between sources — one row per
    OVERLAPPING source pair (a < b) by default: shingle-set sizes,
    the common-shingle count, Jaccard, and BOTH containments. The
    dedup-planning view one level above l02's per-document pairs:
    before spending a full near-dup pass across two feeds, this says
    whether feed B is 90% inside feed A (containment ≈ 1 —
    mirror/re-crawl, dedup by provenance) or genuinely novel
    (Jaccard ≈ 0 — skip the cross-feed pass).

    DISJOINT pairs (zero shared shingles) are ABSENT by default — the
    shingle equi-join IS the filter, which is what keeps the plan off
    a |sources|² cross join (the l55 registration's documented scale
    shape). A consumer that needs the FULL grid — so "disjoint" is
    distinguishable from "pair missing from input" — passes
    include_disjoint=True: the |sources|-row size relation expands to
    the (a < b) grid (|sources|² rows, dimension-sized) and
    LEFT-joins the common counts, emitting explicit zero rows
    (r10 sweep: the docstring previously promised one row per pair
    while the implementation emitted only overlapping ones).

    Shape: ONE corpus scan to the DISTINCT (source, shingle)
    relation; the pair counts come from a shingle-keyed self-join of
    that relation (the inverted-index shape — each shingle contributes
    df(s)² pairs with df ≤ |sources|, so the join is |vocab|·|sources|²
    bounded, never corpus²); set sizes are a |sources|-row aggregate
    BROADCAST back onto the |sources|²-row matrix. At thousands of
    sources add the l02g df-cap on shingles shared by nearly all
    feeds (they carry no discriminating signal and dominate the pair
    fan-out).
    """
    ex = docs.select(
        F.col(group_col).alias("_g"),
        F.explode(shingles(tokens_col, n)).alias("_s"),
    ).distinct()
    sizes = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a._s") == F.col("b._s"))
            & (F.col("a._g") < F.col("b._g")),
        )
        .groupBy(
            F.col("a._g").alias("source_a"),
            F.col("b._g").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if include_disjoint:
        ga = sizes.select(F.col("_g").alias("source_a"))
        gb = sizes.select(F.col("_g").alias("source_b"))
        grid = ga.crossJoin(gb).filter(
            F.col("source_a") < F.col("source_b")
        )
        common = grid.join(
            common, ["source_a", "source_b"], "left"
        ).withColumn("n_common", F.coalesce("n_common", F.lit(0)))
    sa = F.broadcast(
        sizes.select(F.col("_g").alias("source_a"), F.col("_n").alias("n_a"))
    )
    sb = F.broadcast(
        sizes.select(F.col("_g").alias("source_b"), F.col("_n").alias("n_b"))
    )
    c = F.col("n_common")
    return (
        common.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            c.cast("long").alias("n_common"),
            F.round(c / (F.col("n_a") + F.col("n_b") - c), 4).alias(
                "jaccard"
            ),
            F.round(c / F.col("n_a"), 4).alias("containment_a"),
            F.round(c / F.col("n_b"), 4).alias("containment_b"),
        )
    )


def normalized_dedup_uplift(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """How much MORE duplication text normalization exposes — one row
    per source: doc count, docs that are exact-duplicates of another
    doc anywhere in the corpus (raw), docs that are duplicates after
    casefold + punctuation-strip + whitespace-collapse (normalized),
    and the uplift. The dedup-policy measurement: if normalization
    only adds 0.1% the raw hash pass suffices; if it adds 15% the
    corpus is full of near-identical re-encodings and the normalized
    key should drive l01.

    Normalization pin (cross-engine, also in the oracle): lowercase,
    every run of non-[a-z0-9] characters to ONE space, trim — applied
    in that order, so 'Foo,  bar!' ≡ 'foo bar'. A doc counts as
    duplicated when its (raw | normalized) key is shared by ≥ 2 docs
    CORPUS-WIDE; attribution is by the doc's own source (cross-source
    duplication intentionally counts — that is the re-crawl signal).

    Shape: one corpus scan to (id, source, raw key, normalized key);
    two key-grain aggregates joined back (key-keyed shuffles — the
    exact-dedup shape, hash the keys upstream at 100 TB so the
    shuffle carries 8-byte digests, the l01 posture); one final
    |sources|-grain aggregate. NULL text rows count in n_docs but
    can never be duplicates (a NULL key matches nothing).
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        F.col(text_col).alias("_raw"),
        norm.alias("_norm"),
    )
    raw_counts = base.filter(F.col("_raw").isNotNull()).groupBy(
        F.col("_raw")
    ).agg(F.count(F.lit(1)).alias("_rc"))
    norm_counts = base.filter(F.col("_norm").isNotNull()).groupBy(
        F.col("_norm")
    ).agg(F.count(F.lit(1)).alias("_nc"))
    flagged = (
        base.join(raw_counts, "_raw", "left")
        .join(norm_counts, "_norm", "left")
        .select(
            "_g",
            (F.coalesce(F.col("_rc"), F.lit(0)) >= 2).alias("_raw_dup"),
            (F.coalesce(F.col("_nc"), F.lit(0)) >= 2).alias("_norm_dup"),
        )
    )
    n_raw = F.sum(F.col("_raw_dup").cast("int"))
    n_norm = F.sum(F.col("_norm_dup").cast("int"))
    return flagged.groupBy(F.col("_g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        n_raw.cast("long").alias("n_raw_dup"),
        n_norm.cast("long").alias("n_norm_dup"),
        (n_norm - n_raw).cast("long").alias("uplift"),
        F.round(n_norm / F.count(F.lit(1)), 4).alias("norm_dup_rate"),
    )
