"""Text-analysis operators (SURVEY.md §2.4 L4-L6): token statistics,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is native column expressions — these run inside
whole-stage codegen over the raw text column, no Python. That matters
because text analysis is the *per-document* hot loop of a training
pipeline: at 100 TB it runs on every row, so a 10× UDF penalty here
dominates the whole job. (One documented exception: bpe_encode's
rank-priority merge loop is inherently algorithmic — it is an
iterator-form pandas UDF with a per-batch word memo BY DESIGN.)
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import ckpt

# NB: Iterator/pd are module-level ON PURPOSE: `from __future__ import
# annotations` stringifies hints, and pandas_udf's iterator-form
# detection resolves them against MODULE globals — function-local
# imports break it (the vectors.py::int8_roundtrip_error_iter lesson).

# Tiny english stopword list — enough for ratio features; a real
# pipeline would broadcast a per-language list.
STOPWORDS = (
    "the a an and or of to in is are was were be been for on with as by at"
).split()

# BPE-ish token estimate: words + digits + punctuation runs, the usual
# cheap proxy for subword token count when no tokenizer is available.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: str = "text") -> Column:
    """Whitespace tokens; empty/whitespace-only text yields [].

    Spark's `split('', pattern)` returns `['']`, so without the filter
    an empty document would contribute a phantom '' token — mined by
    FPGrowth as an item, counted in vocabularies, scored by TF-IDF.
    The filter is a no-op on any text with real tokens."""
    return F.filter(
        F.split(F.trim(F.col(col)), r"\s+"), lambda t: t != F.lit("")
    )


def shifted_pairs(t: Column, combine) -> Column:
    """Adjacent-element pairs of an array as an array, built by
    zip_with over a shifted SLICE — never by indexing the outer array
    inside a transform lambda, which re-inlines the array-producing
    expression per element after projection collapse (the measured
    10× trap documented at dedup.shingles). `combine(a, b)` builds
    each pair value; the zip_with tail padding (b = NULL on the last
    slot when lengths differ) and any null-sided pair are filtered
    out. ONE definition for every bigram-shaped consumer
    (repetition_signals, l04b, l37) so the invariant cannot drift
    per-copy (code-review r5c)."""
    shifted = F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0)))
    return F.filter(
        F.zip_with(
            t,
            shifted,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), combine(a, b)
            ),
        ),
        lambda p: p.isNotNull(),
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """L4: per-document token statistics (all native)."""
    t = tokens(text_col)
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(
                t, F.lit(0.0), lambda acc, x: acc + F.length(x)
            )
            / F.size(t),
            4,
        ).alias("avg_token_len"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
        )
        .cast("long")
        .alias("n_bpe_ish_tokens"),
    )


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    carry: list[str] | None = None,
) -> DataFrame:
    """L6: quality-filter features + verdict.

    Heuristics follow the public Gopher/C4-style rules: length bounds,
    mean word length bounds, repetition ceiling (distinct/total
    tokens). stopword_ratio is REPORTED but deliberately not gated —
    the stoplist is English-only and the corpus is multilingual, so a
    floor would mass-reject non-English documents.

    `carry` appends pass-through columns (e.g. the text itself) so a
    composed pipeline can gate ROW-LOCALLY instead of joining the
    verdict back on doc_id — one projection, zero extra shuffles
    (l40's shape).
    """
    t = tokens(text_col)
    n_tok = F.size(t)
    distinct_ratio = F.size(F.array_distinct(t)) / n_tok
    stop_ratio = F.size(
        F.array_intersect(F.array_distinct(t), F.array(*[F.lit(s) for s in STOPWORDS]))
    ) / F.size(F.array_distinct(t))
    mean_wlen = (
        F.aggregate(t, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_tok
    )
    out = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        *(carry or []),
    )
    passes = (
        (F.col("n_tokens") >= 5)
        & (F.col("n_chars").between(20, 10000))
        & (F.col("mean_word_len").between(2, 12))
        & (F.col("distinct_ratio") > 0.1)
    )
    return out.withColumn("quality_pass", passes)


def langid_scores(
    docs: DataFrame,
    text_col: str = "text",
    carry: list[str] | None = None,
) -> DataFrame:
    """L5 (heuristic language-ID): score text against fixed per-language
    marker-token profiles and pick the argmax.

    A real system scores character n-grams against trained profiles
    (TextCat / CLD style); the fixtures' text is a synthetic English
    vocabulary, so profiles here are marker WORD lists — same plumbing
    (per-language score columns + argmax), deterministic, and cheap.
    Emits per-language scores and predicted_lang; accuracy against the
    `lang` label column is measured in tests, not assumed.
    """
    profiles = {
        "en": ["the", "and", "fast", "query", "table"],
        "es": ["el", "la", "de", "que", "rapido"],
        "de": ["der", "die", "und", "schnell", "tabelle"],
        "fr": ["le", "la", "et", "rapide", "requete"],
        "zh": ["de5", "shi4", "kuai4", "biao3", "cha2"],
    }
    t = F.array_distinct(tokens(text_col))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        *(carry or []),
        *[
            F.size(
                F.array_intersect(t, F.array(*[F.lit(w) for w in words]))
            ).alias(f"score_{lang}")
            for lang, words in profiles.items()
        ],
    )
    langs = list(profiles)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.coalesce(
        *[
            F.when((F.col(f"score_{lg}") == best) & (best > 0), F.lit(lg))
            for lg in langs
        ],
        F.lit("unknown"),
    )
    return scored.withColumn("predicted_lang", pred)


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """L6 (repetition signals, Gopher-style): per-document repetition
    features used to reject boilerplate/spam —
    `top_token_ratio` (share of the most frequent token) and
    `dup_bigram_ratio` (share of bigram occurrences that repeat).

    Shape: the top-token count needs per-(doc, token) grouping, so it
    runs explode → two hash aggregates (both with map-side partials,
    keyed by doc_id — uniform, skew-free). Bigram stats stay fully
    native per row (zip_with over a shifted slice — see
    dedup.shingles for why NOT to index the outer array in a lambda).
    One equi-join on doc_id stitches the two.
    """
    t = tokens(text_col)
    per_token = (
        docs.select("doc_id", F.explode(t).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = per_token.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_count"),
    )
    bigrams = shifted_pairs(t, lambda a, b: F.concat_ws(" ", a, b))
    big = docs.select(
        "doc_id",
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    )
    # LEFT join from `big` (which has every input doc): a zero-token
    # document explodes to no per-token rows, and an inner join would
    # silently drop it from the output — exactly the degenerate doc a
    # downstream quality gate most needs to see (code-review r8
    # finding). Such docs surface with n_tokens 0 and NULL ratios.
    return big.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
            "n_tokens"
        ),
        F.round(F.col("top_count") / F.col("n_tokens"), 4).alias(
            "top_token_ratio"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 4),
        ).alias("dup_bigram_ratio"),
    )


# PII patterns kept to syntax shared verbatim by Java regex and
# DuckDB's RE2 so the oracle can run the identical expressions.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONG_DIGITS = r"[0-9]{6,}"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """L6 (PII scrubbing): replace email addresses and long digit runs
    with typed placeholder tokens — the standard pre-training redaction
    pass. Pure regexp_replace expressions: stays in codegen, no Python
    in the per-document hot loop."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), PII_EMAIL, "<EMAIL>"),
        PII_LONG_DIGITS,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        (scrubbed != F.col(text_col)).alias("was_scrubbed"),
    )


def rolling_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """L4 (fingerprinting): polynomial rolling hash over tokens —
    order-sensitive (unlike a bag-of-words digest), so reordered
    near-identical documents fingerprint differently.

    h = Σ xxhash64(token_i) * 31^(n-1-i)  (mod 2^64, via long overflow)
    computed as a single native aggregate fold; no Python, no shuffle.
    """
    t = tokens(text_col)
    fp = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(31).cast("long") + F.xxhash64(x),
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.sha2(F.concat_ws(" ", t), 256).alias("exact_digest"),
    )


def portable_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """L4 (fingerprinting): rolling_fingerprint's ENGINE-PORTABLE twin
    — the same order-sensitive polynomial fold, but the per-token hash
    is the first 7 hex chars of md5 (28 bits, engine-independent the
    way l59's media digest is) instead of Spark-private xxhash64, and
    the accumulator reduces mod 2^30 so the fold never leaves the
    exactly-representable BIGINT range on either engine (DuckDB
    ERRORS on 64-bit overflow where the JVM wraps — wraparound is not
    portable arithmetic):

        h = fold_i (acc * 31 + md5_28(token_i)) mod 2^30

    Same collision posture as any 30-bit sketch fingerprint: a triage
    key, with the SHA-256 exact_digest alongside as the confirm key.
    Native conv/md5/aggregate fold — no Python, no shuffle."""
    t = tokens(text_col)
    fp = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (
            acc * F.lit(31).cast("long")
            + F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long")
        ) % F.lit(1 << 30).cast("long"),
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.sha2(F.concat_ws(" ", t), 256).alias("exact_digest"),
    )


def sequence_pack(
    docs: DataFrame,
    budget: int = 2048,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing (concat-and-chunk): assign every document a
    token offset inside fixed-`budget` training sequences.

    The standard LLM pre-training packing scheme: documents are
    concatenated in a deterministic order and sliced into
    `budget`-token chunks (docs may span chunk boundaries — that is
    the concat-and-chunk contract, as opposed to bin-packing which
    wastes tail tokens). Emits per doc: its token count, its global
    start offset within its pack group, the chunk it starts in, and
    how many chunks it spans.

    Scale shape: a running-sum window must see its whole partition,
    so packing GLOBALLY would be a single-partition sort — the
    classic window scale-killer. Instead docs are packed within
    (group_col, shard) cells, where shard is the first md5 nibble of
    the id: 16 × |groups| independent cells, each windowed in
    parallel, deterministic and engine-portable (same split contract
    as the l09 hash split). Chunks never cross cells, which is what a
    real pipeline wants anyway — each cell is one writer task.
    """
    t = tokens(text_col)
    base = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).alias("shard"),
        F.size(t).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq_start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "seq_start"
    )
    out = base.select(id_col, group_col, "shard", "n_tokens", seq_start)
    chunk_id = F.floor(F.col("seq_start") / budget)
    last_chunk = F.floor(
        (F.col("seq_start") + F.col("n_tokens") - 1) / budget
    )
    # A zero-token document spans ZERO chunks regardless of where its
    # seq_start lands: the floor identity otherwise reports 0 chunks
    # on a chunk boundary but 1 anywhere else — the same degenerate
    # doc "spanning" different chunk counts purely by position breaks
    # budget-reconciliation invariants (code-review r8 finding; the
    # l13 oracle applies the identical CASE).
    return out.select(
        id_col,
        group_col,
        "shard",
        "n_tokens",
        "seq_start",
        chunk_id.alias("chunk_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(last_chunk - chunk_id + 1)
        .cast("long")
        .alias("n_chunks"),
    )


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int | None = 65536,
) -> DataFrame:
    """CCNet-style LM quality score: per-document mean negative log2
    probability under the corpus's own unigram language model. Low
    scores = formulaic/repetitive text, high = rare-token soup; real
    pipelines keep the middle band (CCNet buckets by LM perplexity).

    Here the "LM" is the corpus unigram distribution itself, so the
    whole operator is two aggregates and a join — no external model:
      1. vocab: token → corpus count (hash agg, map-side partial);
      2. per-token surprise: -log2(count / total);
      3. per-doc mean over its tokens.

    Scale shape: the exploded corpus joins the vocab on token, which
    is Zipf-skewed — 'the' would own a shuffle partition — so the
    vocab leg is BROADCAST. A raw corpus vocabulary grows without
    bound at 100 TB (typos, code, UUIDs), so by DEFAULT the vocab leg
    is pruned to the `vocab_size` most frequent tokens (CCNet keeps a
    fixed LM vocabulary the same way) via orderBy+limit — Spark plans
    that as TakeOrderedAndProject: per-partition partial top-K then a
    single bounded merge, never a global sort. Tokens outside the
    kept vocabulary take an OOV floor count of 1 (maximum surprise —
    they are rarer than anything kept). The fixtures' synthetic vocab
    (~2k tokens) is far below the default K, so no token is OOV and
    the result is bit-identical to the exact model — which is what
    keeps the SQL oracle green. `vocab_size=None` selects the exact
    unbounded path. The total-token count (over ALL tokens, kept or
    not, so probabilities stay a true distribution) rides along as a
    1-row broadcast cross join, same pattern as m03's threshold.
    """
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # Optimization r11 (guide §2.4): the vocab relation feeds TWO
    # legs (the total and the kept/scored join) and `total` itself
    # previously re-tokenized the corpus a THIRD time — pin the
    # vocabulary-sized counts behind a lazy localCheckpoint and
    # derive the grand total as Σ c over the pin (exact: every token
    # occurrence counts once in its vocab row). The LM-build pass and
    # the broadcast-scored re-scan remain the two corpus passes — the
    # documented probed design (importance_llr_score rationale).
    vocab = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    total = vocab.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("total")
    )
    if vocab_size is None:
        scored = tok.join(F.broadcast(vocab), "tok")
    else:
        kept = vocab.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_size)
        scored = tok.join(F.broadcast(kept), "tok", "left").withColumn(
            "c", F.coalesce(F.col("c"), F.lit(1))
        )
    scored = scored.crossJoin(F.broadcast(total))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.avg(-F.log2(F.col("c") / F.col("total"))), 4
            ).alias("avg_neg_log2p"),
        )
    )


def importance_llr_score(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int | None = 65536,
) -> DataFrame:
    """DSIR-style data selection score: per-document mean log-likelihood
    ratio between a target-domain unigram LM and the raw-corpus unigram
    LM (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — the hashed-ngram variant collapses to
    exactly this when features are unigrams). Documents scoring high
    look like the target domain; resampling keeps the top slice.

    `target` is a boolean Column over `docs` rows selecting the
    target-domain subset (e.g. `F.col("lang") == "en"`); the raw LM is
    the whole corpus. Both LMs are add-1 smoothed over the raw
    vocabulary V:

        score(d) = mean_{w in d} log2( (c_tgt(w)+1) / (c_raw(w)+1) )
                   + log2( (N_raw+|V|) / (N_tgt+|V|) )

    (the normalizer is constant per corpus, so it hoists out of the
    per-token mean — one broadcast scalar instead of per-row work).

    Scale shape mirrors `unigram_logprob_score`: TWO passes over the
    corpus — a model built FROM the data cannot also score it in one
    pass without pinning corpus-scale state. Pass 1 explodes and
    hash-aggregates tokens ONCE for BOTH count legs (the target leg
    is a count_if partial of the same aggregate, not a separate
    scan). Pass 2 re-explodes to score each token against the
    per-token score table, which is Zipf-skewed on the join key so
    it travels by BROADCAST, pruned to the `vocab_size` most
    frequent raw tokens (TakeOrderedAndProject — bounded merge, no
    global sort). Each pass reads only (id, target, text) columns
    off parquet; at 100 TB the second read is the honest cost of the
    broadcast-model design, far cheaper than caching the exploded
    corpus. OOV tokens take the maximum-surprise floor (c_raw=1,
    c_tgt=0). The three scalars (N_raw, N_tgt, |V|) ride one 1-row
    broadcast. The fixtures' vocabulary sits far under the default
    bound, so results are bit-identical to the exact model — which
    keeps the SQL oracle green; `vocab_size=None` selects the exact
    unbounded path.
    """
    tok = docs.select(
        F.col(id_col), target.alias("_is_tgt"), F.explode(tokens(text_col)).alias("tok")
    )
    raw = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.count_if(F.col("_is_tgt")).alias("c_tgt"),
    ).localCheckpoint(eager=False)
    # ^ Optimization r11 (guide §2.4): raw feeds the scalars leg AND
    # the broadcast score table — unpinned, the scalars re-planned
    # the corpus tokenize a THIRD time (the l27 plan held 3
    # Generates for the documented two-pass design). The pin is
    # vocabulary-sized; the two passes the docstring promises are
    # now exactly what the plan executes.
    scal = raw.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    if vocab_size is not None:
        raw = raw.orderBy(F.desc("c_raw"), F.asc("tok")).limit(vocab_size)
    scored = (
        tok.join(F.broadcast(raw), "tok", "left")
        .withColumn("c_raw", F.coalesce(F.col("c_raw"), F.lit(1)))
        .withColumn("c_tgt", F.coalesce(F.col("c_tgt"), F.lit(0)))
        .crossJoin(F.broadcast(scal))
    )
    term = F.log2((F.col("c_tgt") + F.lit(1.0)) / (F.col("c_raw") + F.lit(1.0)))
    norm = F.log2(
        (F.col("n_raw") + F.col("v")) / (F.col("n_tgt") + F.col("v"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        # + 0.0 pins -0.0 on near-neutral docs (the l43 class);
        # paired with `+ 0.0` in the l27 oracle.
        (F.round(F.avg(term) + F.first(norm), 4) + F.lit(0.0)).alias(
            "llr_score"
        ),
    )


def chunk_with_overlap(
    docs: DataFrame,
    chunk_size: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (RAG / long-context training
    prep): split every document into `chunk_size`-token windows that
    step by `chunk_size - overlap`, so consecutive chunks share
    `overlap` tokens and no split point loses bridging context.

    Start positions are emitted while start ≤ max(n - overlap, 1):
    the final window may be short, but a window consisting ONLY of
    already-covered overlap tokens is never produced.

    Scale shape: pure native expressions — sequence() to generate the
    start offsets, explode, slice() per chunk. No shuffle at all; the
    output is the scan fanned out by the ~1/(1-overlap/size) blowup
    every chunker pays. Fully parallel per input split.
    """
    if chunk_size < 1 or overlap < 0 or overlap >= chunk_size:
        raise ValueError(
            "chunk_with_overlap needs chunk_size >= 1 and "
            f"0 <= overlap < chunk_size, got chunk_size={chunk_size} "
            f"overlap={overlap} (step would be <= 0 — F.sequence would "
            "fail deep inside task execution instead of here)"
        )
    step = chunk_size - overlap
    t = tokens(text_col)
    # Zero-token documents produce NO chunks: greatest(_n - overlap, 1)
    # would otherwise force starts=[1] and emit a phantom zero-length
    # ''-text chunk per empty doc straight into the RAG index
    # (code-review r8 finding; the l16 oracle filters identically).
    base = docs.select(
        F.col(id_col), t.alias("_toks"), F.size(t).alias("_n")
    ).filter(F.col("_n") > 0)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("_n") - overlap, F.lit(1)),
        F.lit(step),
    )
    ch = base.select(
        F.col(id_col), "_toks", F.explode(starts).alias("start_token")
    )
    piece = F.slice(F.col("_toks"), F.col("start_token"), chunk_size)
    return ch.select(
        id_col,
        ((F.col("start_token") - 1) / step).cast("long").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.size(piece).cast("long").alias("chunk_len"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int | None = 65536,
) -> DataFrame:
    """Per-document top-k keywords by smoothed TF-IDF
    (tfidf = tf · (ln((N+1)/(df+1)) + 1), the scikit-learn smoothing).

    Scale shape: tf is a (doc, token) hash aggregate keyed by doc —
    uniform. df is a distinct + token aggregate whose OUTPUT is
    vocab-sized, so the join back to the tf relation broadcasts the
    df leg rather than shuffling the corpus on Zipf-skewed tokens.
    The raw vocabulary is unbounded at 100 TB, so by DEFAULT the df
    leg keeps only the `vocab_size` highest-df tokens (orderBy+limit
    → TakeOrderedAndProject, a bounded distributed top-K); dropped
    tokens take the OOV floor df=1 — i.e. they are treated as
    maximally rare, which for a KEYWORD extractor is the right bias
    (exact df matters for frequent tokens, where it suppresses them;
    a tail token's idf is near-max either way). The fixtures' ~2k
    vocab never trips the limit, so output — and the SQL oracle —
    is identical to the exact model; `vocab_size=None` is the exact
    path. N rides as a 1-row broadcast. Top-k prunes inside
    WindowExec (rank ≤ k) partitioned by doc — millions of tiny
    uniform groups.
    """
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # Optimization r11 (guide §2.3/§2.4): df derives from the tf
    # relation instead of a second tokenize + DISTINCT over the
    # corpus — tf is (doc, token)-grain by construction, so counting
    # its rows per token IS the document frequency (exactly what
    # `tok.distinct().groupBy("tok").count()` computed, minus one
    # full corpus pass and the distinct exchange). tf then feeds two
    # legs (df + the scored join), so it pins behind a lazy
    # localCheckpoint: the corpus tokenizes ONCE per call.
    tf = tok.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    if vocab_size is None:
        scored = tf.join(F.broadcast(df_), "tok")
    else:
        kept = df_.orderBy(F.desc("df"), F.asc("tok")).limit(vocab_size)
        scored = tf.join(F.broadcast(kept), "tok", "left").withColumn(
            "df", F.coalesce(F.col("df"), F.lit(1))
        )
    scored = scored.crossJoin(F.broadcast(n_docs))
    tfidf = F.round(
        F.col("tf")
        * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
        4,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.select(
            id_col,
            "tok",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            tfidf.alias("tfidf"),
        )
        .withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
    )


def rank_calibrated_gate(
    docs: DataFrame,
    by: Sequence[str],
    score_col: str,
    keep_frac: float,
    tiebreak_col: str,
) -> DataFrame:
    """Per-stratum rank-calibrated quality gate: keep the top
    `keep_frac` of EACH stratum (source, language, shard) by score,
    rather than applying one global threshold — the calibration that
    stops a uniformly-scored gate from gutting a strict-but-valuable
    source whose raw scores run low (the cross-source counterpart of
    l20's global perplexity deciles; both gates exist because both
    failure modes do). Returns every input row plus
    (pct_rank, is_kept): pct_rank is percent_rank within the stratum
    ordered BEST-FIRST (score DESC, tiebreak ASC) — 0 = the
    stratum's best row, identical (rank−1)/(n−1) semantics in Spark
    and SQL engines, tiebreak-deterministic — and is_kept ⇔
    pct_rank ≤ keep_frac. The best-first orientation is what makes
    the edge cases land right: a single-row stratum has pct_rank 0
    and is KEPT for any keep_frac (its only doc IS its top
    fraction), and keep_frac = 1.0 keeps everything (the ASC
    mirror-image formulation fails both — review r5, caught by its
    own test). keep_frac values landing exactly on the (rank−1)/
    (n−1) grid include the boundary row.

    Shape: ONE window shuffle keyed by the strata — never a global
    rank (strata counts are the skew bound, measurable with r53);
    everything else is row-local projection.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    w = Window.partitionBy(*by).orderBy(
        F.col(score_col).desc(), F.col(tiebreak_col).asc()
    )
    pct = F.percent_rank().over(w)
    # Gate on the SAME rounded value the pct_rank column emits, so
    # the documented is_kept ⇔ pct_rank ≤ keep_frac equivalence is
    # visible in the output rows themselves (code-review r8 finding:
    # gating on the raw rank let a row show pct_rank 0.3000 yet
    # is_kept false). The l47 oracle applies the identical rounding.
    return docs.withColumn("pct_rank", F.round(pct, 4)).withColumn(
        "is_kept", F.col("pct_rank") <= F.lit(keep_frac)
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query
    terms — (id, n_terms_matched, score) with the Lucene-form
    smoothed idf, ln((N − df + 0.5)/(df + 0.5) + 1), and the
    (k1 + 1)-numerator tf saturation — the lexical-retrieval ranker
    that pairs with l03's embedding top-k for hybrid search, and the
    relevance weight retrieval-aware data curation mixes into
    quality gates. Terms match exactly and case-sensitively
    (normalize upstream — the tokens() helper lowercases if asked);
    documents matching NO query term are omitted (their score is
    identically 0, and at 100 TB emitting every zero row means
    materializing the corpus to say nothing).

    Shape: the query-term filter lands DIRECTLY on the exploded
    tokens, so everything downstream of the corpus scan is
    (matched tokens)-sized, not corpus-sized; df(term) is a
    ≤|terms|-row aggregate and the (N, avgdl) corpus moments are a
    1-row aggregate — both BROADCAST back (the house 1-row-scalar
    crossJoin pattern); the per-(doc, term) tf aggregate is map-side
    partial on data already shrunk by the term filter. No UDF, no
    window, nothing corpus². Ties in ln/fp across engines are
    absorbed by the 4dp round (the series_trend co-moment stance).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    # The shared tokens() helper (\s+ split, '' filtered), NOT a bare
    # single-space split: whitespace runs would mint phantom '' tokens
    # that inflate _dl/avgdl and an empty doc would count _dl = 1 in
    # the corpus moments (ADVICE r5).
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        tokens(text_col).alias("_toks"),
    )
    withlen = toks.select("_id", "_toks", F.size("_toks").alias("_dl"))
    # 1-row corpus moments: N docs, mean doc length.
    moments = withlen.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    # Optimization r11 (guide §2.4): hits feeds TWO legs (df and tf)
    # — unpinned, each re-planned its own corpus tokenize (the l48
    # plan held 3 parquet scans / 2 Generates). hits is
    # (matched tokens)-sized — small by the term filter — so a lazy
    # localCheckpoint materializes it once; the corpus tokenizes
    # twice per call (moments + hits), not three times. The
    # corpus-sized withlen relation itself stays UNPINNED — the
    # importance_llr_score probed stance: re-scanning columnar
    # parquet beats materializing the exploded corpus.
    hits = withlen.select(
        "_id",
        "_dl",
        F.explode("_toks").alias("_term"),
    ).filter(
        F.array_contains(terms, F.col("_term"))
    ).localCheckpoint(eager=False)
    # df(term): docs containing the term at least once.
    dfreq = hits.select("_id", "_term").distinct().groupBy("_term").agg(
        F.count(F.lit(1)).alias("_df")
    )
    tf = hits.groupBy("_id", "_dl", "_term").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    joined = (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(moments))
    )
    idf = F.log(
        (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    sat = (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
    )
    return (
        joined.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(F.sum(idf * sat), 4).alias("score"),
        )
        .withColumnRenamed("_id", id_col)
    )


def bigram_backoff_score(
    docs: DataFrame,
    train_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff: float = 0.4,
) -> DataFrame:
    """Bigram LM quality score with Stupid Backoff — per document:
    (id, n_bigrams, avg_neg_log2p) where each adjacent pair scores

        S(w2 | w1) = c(w1 w2) / c(w1)        if training saw the bigram
                   = backoff · c(w2) / N     otherwise (OOV w2 counts 1)

    (Brants et al.'s web-LM recipe: no discounting to estimate, one
    multiplicative backoff constant). The CONTEXT-aware upgrade of
    l15's unigram surprise: a doc whose every word is common but
    whose word ORDER is scrambled scores high here and normal there
    — the signal that catches shuffled/templated text a unigram
    model certifies as fluent. Counts come from `train_docs` — the
    CCNet framing: train the LM on the reference corpus, score the
    candidates. The default (None) self-trains like l15, where the
    backoff branch is provably DEAD — every scored bigram trained
    its own count — so self-trained mode is a pure conditional-
    probability score, stated here so nobody "fixes" the unreachable
    branch. Docs with < 2 tokens have no bigram and are omitted
    (scoring an empty product would fabricate a 0-surprise doc).

    Scale shape: bigram extraction is the shared shifted_pairs seam
    (row-local, the measured zip_with formulation); the bigram-count
    leg joins back as a shuffle equi-join (a 100 TB bigram
    vocabulary is too large to broadcast and not skewed enough to
    need more than AQE), the unigram legs broadcast exactly as l15
    does, and N rides the 1-row crossJoin.
    """
    if not 0.0 < backoff <= 1.0:
        raise ValueError(f"backoff must be in (0, 1], got {backoff}")
    train = train_docs if train_docs is not None else docs
    t = tokens(text_col)
    pairs = docs.select(
        F.col(id_col),
        F.explode(
            shifted_pairs(
                t, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
            )
        ).alias("_p"),
    ).select(
        id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )
    train_pairs = train.select(
        F.explode(
            shifted_pairs(
                t, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
            )
        ).alias("_p"),
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    toks = train.select(F.explode(t).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    bi = train_pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cb")
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    scored = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(total))
    )
    s = F.when(
        F.col("cb").isNotNull(), F.col("cb") / F.col("c1")
    ).otherwise(
        F.lit(float(backoff))
        * F.coalesce(F.col("c2"), F.lit(1))  # OOV floor, the l15 stance
        / F.col("n_total")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg(-F.log2(s)), 4).alias("avg_neg_log2p"),
    )


def quality_gate_ablation(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-gate ablation of the l06 quality filter — one row per gate:
    how many docs fail it (n_fail) and how many fail ONLY it
    (n_sole_fail, the docs that gate alone removes from the corpus).
    The curation-tuning measurement: a gate with large n_fail but
    near-zero n_sole_fail is redundant (its rejects die elsewhere
    anyway); a gate with large n_sole_fail is the one whose threshold
    actually shapes the corpus and deserves the calibration pass
    (l47's rank-calibrated form).

    Gates are EXACTLY quality_features' verdict conjuncts (min_tokens,
    char_bounds, word_len_bounds, distinct_ratio) — including the
    4dp ROUNDING quality_features applies to mean_word_len and
    distinct_ratio before gating (ADVICE r7: the unrounded forms
    classify boundary docs like mean_wlen 12.00004 differently) — so
    the ablation can never drift from the filter it explains (and
    `sum of sole-fails ≤ total fails` is a structural invariant,
    tested).

    Shape: ONE corpus scan — four boolean columns, then a single
    8-counter hash aggregate (no explode, no per-gate pass); the
    4-row output is stack()ed from the 1-row aggregate. Row count of
    the output is |gates|, independent of corpus size.
    """
    t = tokens(text_col)
    n_tok = F.size(t)
    distinct_ratio = F.size(F.array_distinct(t)) / n_tok
    mean_wlen = (
        F.aggregate(t, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_tok
    )
    gates = {
        "min_tokens": n_tok >= 5,
        "char_bounds": F.col("n_chars").between(20, 10000),
        "word_len_bounds": F.round(mean_wlen, 4).between(2, 12),
        "distinct_ratio": F.round(distinct_ratio, 4) > 0.1,
    }
    flagged = docs.select(
        *[
            F.coalesce(cond, F.lit(False)).alias(f"_p_{g}")
            for g, cond in gates.items()
        ]
    )
    names = list(gates)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for g in names:
        fail = ~F.col(f"_p_{g}")
        others = None
        for h in names:
            if h == g:
                continue
            c = F.col(f"_p_{h}")
            others = c if others is None else others & c
        aggs.append(F.sum(fail.cast("int")).alias(f"_f_{g}"))
        aggs.append(F.sum((fail & others).cast("int")).alias(f"_s_{g}"))
    wide = flagged.agg(*aggs)
    stack_expr = ", ".join(f"'{g}', _f_{g}, _s_{g}" for g in names)
    tall = wide.selectExpr(
        "_n",
        f"stack({len(names)}, {stack_expr}) AS (gate, n_fail, n_sole_fail)",
    )
    return tall.select(
        "gate",
        F.col("_n").cast("long").alias("n_docs"),
        F.col("n_fail").cast("long").alias("n_fail"),
        F.col("n_sole_fail").cast("long").alias("n_sole_fail"),
        F.round(F.col("n_fail") / F.col("_n"), 4).alias("fail_rate"),
        F.round(F.col("n_sole_fail") / F.col("_n"), 4).alias("sole_rate"),
    )


def bpe_merge_rounds(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_pair_count: int = 2,
) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016) — learn
    the first `n_merges` byte-pair-encoding merges over a corpus:
    per round, count adjacent symbol pairs (frequency-weighted) and
    merge the most frequent pair into a new symbol, ties to the
    lexicographically SMALLEST (left, right) so the merge table is
    deterministic and a pure-Python reference computes the identical
    sequence. Returns one row per executed merge:

        (round, left, right, merged, pair_count)

    stopping early when no pair reaches `min_pair_count` (the
    standard convergence rule — a merge table never contains
    singleton noise).

    THE scale design point (why this trains at 100 TB): BPE counts
    are word-internal, so the corpus is scanned EXACTLY ONCE into the
    (word, freq) vocabulary relation — every subsequent round runs on
    the vocabulary, whose size is bounded by the language, not the
    corpus. Per round: one explode of adjacent pairs over the vocab's
    symbol arrays (cost ∝ Σ word lengths over the vocab), one
    freq-weighted count aggregate, a 1-row argmax probe (the bounded
    scalar-probe idiom — pq_topk's dim probe), and a ROW-LOCAL
    aggregate-fold rewrite of each word's symbol array (no shuffle:
    the merge rewrites arrays in place). The per-round winning pair
    is the only thing that touches the driver — one row, by
    contract, never data.

    The vocabulary relation is localCheckpoint'ed per round: each
    round's arrays are a pure function of the previous round's (the
    m13/m28 lineage-truncation posture), and the checkpoint is what
    keeps round k from re-running rounds 1..k-1's rewrites.

    Registered round 9 as l61_bpe_merges with the unrolled-CTE DuckDB
    oracle (queries/bpe_oracle.py); the strongest local proof stays
    the pure-Python BPE equality property in tests/test_bpe.py, which
    exercises arbitrary tie layouts a fixed-fixture oracle could not.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_pair_count < 1:
        raise ValueError(
            f"min_pair_count must be >= 1, got {min_pair_count}"
        )
    spark = docs.sparkSession

    # The merge table is collected round by round, so no vocab
    # generation outlives the scope.
    with ckpt.Scope() as s:
        # One corpus pass: whitespace words -> (word, freq), then each
        # word becomes its character-symbol array. Everything after
        # this line is vocabulary-sized.
        vocab = s.pin(
            docs.select(
                F.explode(tokens(text_col)).alias("_w")
            )
            .groupBy("_w")
            .agg(F.count(F.lit(1)).alias("_freq"))
            .select(
                F.split("_w", "").alias("_syms"),
                "_freq",
            )
        )

        merges: list[tuple[int, str, str, str, int]] = []
        for rnd in range(1, n_merges + 1):
            pairs = (
                vocab.select(
                    F.posexplode(
                        F.slice("_syms", 1, F.size("_syms") - 1)
                    ).alias("_i", "_l"),
                    F.col("_syms"),
                    F.col("_freq"),
                )
                .select(
                    F.col("_l"),
                    F.element_at(
                        "_syms", F.col("_i") + F.lit(2)
                    ).alias("_r"),
                    "_freq",
                )
                .groupBy("_l", "_r")
                .agg(F.sum("_freq").alias("_n"))
            )
            # deterministic argmax: count DESC, then (left, right) ASC —
            # ONE row to the driver (the bounded scalar-probe idiom).
            # orderBy+limit(1) compiles to TakeOrdered (no full sort);
            # m28's max_by trick doesn't apply here because the tiebreak
            # is an ASCENDING string and strings have no max_by-orderable
            # negation.
            top = pairs.orderBy(
                F.desc("_n"), F.asc("_l"), F.asc("_r")
            ).limit(1).collect()
            if not top:
                break
            l, r, n = top[0]["_l"], top[0]["_r"], int(top[0]["_n"])
            if n < min_pair_count:
                break
            merged = l + r
            merges.append((rnd, l, r, merged, n))
            # Row-local rewrite: left-to-right fold merging every
            # NON-OVERLAPPING (l, r) occurrence — the exact sequential
            # semantics of the reference implementation ("aaa" with
            # ("a","a") merges once, leaving "aa","a"). No just-merged
            # flag is needed for the non-overlap contract (code-review
            # r9 removed it): after a merge the accumulator's last
            # element is l+r, which can only equal l if r were '' —
            # impossible, since symbols come from splitting non-empty
            # words and merges concatenate non-empty symbols — so the
            # plain last-element check IS the non-overlapping fold
            # (property-proven against the pure-Python reference and the
            # replace-fold oracle, both of which encode the same
            # contract).
            lc, rc, mc = F.lit(l), F.lit(r), F.lit(merged)
            folded = F.aggregate(
                "_syms",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == lc)
                    & (x == rc),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(mc),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )
            # New generation pinned eagerly, PREVIOUS generation released
            # NOW: without the release a k-round training run pins O(k)
            # vocabulary copies for the session (ADVICE-r8 class leak).
            prev = vocab
            vocab = s.pin(vocab.select(folded.alias("_syms"), "_freq"))
            s.release(prev)

    return spark.createDataFrame(
        merges,
        "round int, left string, right string, merged string, "
        "pair_count long",
    )


def bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge table (bpe_merge_rounds' output) to a
    corpus — per whitespace word, repeatedly merge the adjacent
    symbol pair with the LOWEST merge rank until none applies (the
    GPT-2-style encoder loop, provably equivalent to replaying the
    merges in training order). Appends `out_col`: the document's
    subword tokens, word boundaries preserved by construction (BPE
    never merges across words).

    `merges` is either the DataFrame returned by bpe_merge_rounds or
    a list of (left, right) pairs in rank order. A DataFrame input is
    collected — it is merge-table-sized (k rows) BY CONTRACT, the
    same bounded-scalar posture as the trainer's argmax probe.

    Scale shape: encoding is inherently algorithmic (rank-priority
    loop), so this is the one text operator that is a UDF by DESIGN —
    but the production-shaped one: an ITERATOR pandas UDF (u09's
    surface) whose merge-rank dict builds once per worker and whose
    size-capped WORD MEMO encodes each distinct word once (Zipf: a few
    thousand distinct words cover almost every token in a batch), so
    the per-row cost is a dict hit, not a merge loop. Row-local,
    zero shuffles; the merge table rides the closure (k pairs —
    broadcast-sized by contract).
    """
    from pyspark.sql.functions import pandas_udf

    if isinstance(merges, DataFrame):
        rows = merges.orderBy("round").select("left", "right").collect()
        pairs = [(r["left"], r["right"]) for r in rows]
    elif isinstance(merges, Sequence) and not isinstance(merges, str):
        pairs = [(str(l), str(r)) for l, r in merges]
    else:
        raise TypeError(
            "merges must be a bpe_merge_rounds DataFrame or a "
            f"sequence of (left, right) pairs, got {type(merges)}"
        )
    ranks = {p: i for i, p in enumerate(pairs)}

    @pandas_udf("array<string>")
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Task-lifetime memo, SIZE-CAPPED: on a Zipf corpus a few
        # thousand entries cover nearly every token, but a UUID/code
        # corpus has unbounded distinct words — an uncapped dict
        # grows for the whole task and OOMs the executor (code-review
        # r8 finding). Clearing on overflow keeps the common case
        # fully memoized and bounds worst-case memory at ~cap
        # entries.
        memo: dict[str, list[str]] = {}
        memo_cap = 1 << 18

        def word(w: str) -> list[str]:
            hit = memo.get(w)
            if hit is not None:
                return hit
            if len(memo) >= memo_cap:
                memo.clear()
            syms = list(w)
            while len(syms) > 1:
                best, bi = None, -1
                for i in range(len(syms) - 1):
                    rk = ranks.get((syms[i], syms[i + 1]))
                    if rk is not None and (best is None or rk < best):
                        best, bi = rk, i
                if best is None:
                    break
                syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
            memo[w] = syms
            return syms

        for batch in batches:
            yield batch.map(
                lambda t: [
                    s
                    for w in (t or "").split()
                    if w
                    for s in word(w)
                ]
            )

    return docs.withColumn(out_col, _encode(F.col(text_col)))
