"""LLM-pipeline invariants: the randomized/rows-only operators are
checked against their exact counterparts here (SURVEY.md §2.4)."""

import pytest
from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators import ckpt
from miningfrequentpattern_spark.operators import text as T
from miningfrequentpattern_spark.operators.dedup import (
    connected_components,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
)
from miningfrequentpattern_spark.operators.multimodal import (
    attach_media,
    extract_media_features,
)
from miningfrequentpattern_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk_exact,
)
from miningfrequentpattern_spark.sources.io import load_table

from .conftest import SF_ORACLE, SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents")


def test_minhash_recall_vs_exact(spark):
    """MinHash LSH at 8 tables must recover most exact-Jaccard≥0.5
    pairs (planted near-dups are ~0.99 similar, so recall on the
    high-similarity band should be total)."""
    docs = _docs(spark).withColumn("tokens", T.tokens("text"))
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            docs, block_col="lang", n=3, threshold=0.5
        ).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(
            _docs(spark), num_hash_tables=8, jaccard_threshold=0.5, seed=42
        ).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall too low: {recall}"


def test_ann_lsh_is_subset_and_recalls(spark):
    """RP-LSH top-5: every returned pair must also be in the exact
    brute-force top-50 (precision), and recall@5 vs exact top-5 must
    clear 0.5 across 20 queries (unit-norm 64-dim random data)."""
    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact5 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(q, emb, k=5, seed=42).collect()
    }
    recall = len(exact5 & approx) / len(exact5)
    assert recall >= 0.5, f"ann recall@5 too low: {recall}"


def test_connected_components_cliques(spark):
    """Every edge's endpoints share a component; component id is the
    min doc_id of its members."""
    docs = _docs(spark).withColumn("tokens", T.tokens("text"))
    edges = ngram_jaccard_pairs(docs, block_col="lang", n=3, threshold=0.2)
    labels = connected_components(edges)
    e = edges.collect()
    lab = {r.doc_id: r.component for r in labels.collect()}
    assert e, "need edges for this test"
    for r in e:
        assert lab[r.doc_a] == lab[r.doc_b], (r.doc_a, r.doc_b)
    # component id == min member id
    from collections import defaultdict

    members = defaultdict(list)
    for d, c in lab.items():
        members[c].append(d)
    for c, ms in members.items():
        assert c == min(ms)


def test_media_feature_extraction(spark):
    """Binary plumbing end-to-end: features computed over real
    BinaryType bytes through mapInPandas match a driver-side
    recomputation for a sample."""
    docs = _docs(spark).limit(50)
    feats = extract_media_features(attach_media(docs))
    rows = {r.doc_id: r for r in feats.collect()}
    for d in docs.collect():
        b = d.text.encode("utf-8")
        r = rows[d.doc_id]
        assert r.n_bytes == len(b)
        assert r.head_byte == b[0]
        assert r.tail_byte == b[-1]
        assert r.checksum == sum((i + 1) * v for i, v in enumerate(b)) % (1 << 31)


def test_langid_deterministic_and_scored(spark):
    """Language-ID must be deterministic and emit a score column per
    profile language; prediction accuracy is reported, not asserted
    (fixture text is synthetic English-ish for every label)."""
    out1 = T.langid_scores(_docs(spark)).collect()
    out2 = T.langid_scores(_docs(spark)).collect()
    assert out1 == out2
    assert {"score_en", "score_es", "predicted_lang"} <= set(out1[0].asDict())


def test_exact_dedup_keeps_one_per_hash(spark):
    from miningfrequentpattern_spark.operators.dedup import exact_dedup

    out = exact_dedup(_docs(spark))
    per_hash = out.groupBy("content_hash").agg(
        F.sum(F.col("is_kept").cast("int")).alias("n_kept")
    )
    assert per_hash.filter(F.col("n_kept") != 1).isEmpty()


def test_ivf_recall_vs_exact(spark):
    """IVF with 4/16 probes must recall a solid fraction of exact
    top-5 and return only true cosine values (exact rerank)."""
    from miningfrequentpattern_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk_exact(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in ivf_topk(q, emb, k=5, n_clusters=16, n_probes=4, seed=42).collect()
    }
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.4, f"ivf recall too low: {len(hits)}/{len(exact)}"
    for pair in hits:
        assert abs(exact[pair] - approx[pair]) < 1e-9


def test_simhash_banded_equals_allpairs(spark):
    """The banded equi-join candidate pass is EXACT by pigeonhole
    (max_hamming+1 disjoint bands): its pair set must equal the naive
    all-pairs self-join it replaced, on the real fixture."""
    from miningfrequentpattern_spark.operators.dedup import (
        hamming64,
        simhash64,
        simhash_neardup_pairs,
    )

    fp = (
        _docs(spark)
        .withColumn("tokens", T.tokens("text"))
        .withColumn("simhash", simhash64("tokens"))
    )
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_neardup_pairs(fp, block_col="lang", max_hamming=8).collect()
    }
    a, b = fp.alias("a"), fp.alias("b")
    naive = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash"))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
        .collect()
    }
    assert naive, "fixture should contain simhash near-dups"
    assert banded == naive


def test_embedding_neardup_no_driver_path(spark):
    """The block-pair GEMM must be one distributed plan: exactly one
    cogrouped pandas operator, and pair results identical to a naive
    quadratic check on a small slice."""
    import numpy as np

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    small = emb.filter(F.col("vec_id") < 300)
    from miningfrequentpattern_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_pairs(
            small, threshold=0.35, tile_size=64
        ).collect()
    }
    rows = small.orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    sims = (m @ m.T) / np.outer(
        np.linalg.norm(m, axis=1), np.linalg.norm(m, axis=1)
    )
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if np.round(sims[i, j], 4) > 0.35:
                want[(ids[i], ids[j])] = float(np.round(sims[i, j], 4))
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_semantic_neardup_subset_and_recall(spark):
    """Cluster-blocked pairs must be a SUBSET of the exact cosine
    pairs (precision 1: true cosine, same threshold) and recall a
    solid fraction of them (planted near-dups are ~parallel vectors,
    so they co-cluster under any reasonable quantizer)."""
    from miningfrequentpattern_spark.operators.dedup import (
        embedding_neardup_pairs,
        semantic_neardup_pairs,
    )
    from miningfrequentpattern_spark.sources.io import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    sem = {
        (r.id_a, r.id_b)
        for r in semantic_neardup_pairs(
            emb, threshold=0.35, n_clusters=16, seed=42
        ).collect()
    }
    assert sem <= exact, f"false positives: {sorted(sem - exact)[:5]}"
    assert exact, "fixture lost its planted near-dups"
    recall = len(sem & exact) / len(exact)
    assert recall >= 0.5, f"semantic recall too low: {recall}"


def test_semantic_neardup_string_ids(spark):
    """The pair-id output type follows the input id column (ADVICE
    r2): string ids must round-trip through the blocked scorer with
    lexicographic id_a < id_b ordering, not fail at Arrow conversion."""
    from miningfrequentpattern_spark.operators.dedup import (
        semantic_neardup_pairs,
    )
    from miningfrequentpattern_spark.sources.io import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.concat(F.lit("doc-"), F.lpad(F.col("vec_id").cast("string"), 8, "0"))
        .alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    pairs = semantic_neardup_pairs(
        emb, threshold=0.35, n_clusters=16, seed=42
    )
    assert dict(pairs.dtypes)["id_a"] == "string"
    rows = pairs.collect()
    assert rows, "planted near-dups disappeared under string ids"
    assert all(r.id_a < r.id_b for r in rows)


def test_jaccard_hot_shingle_cap_drops_boilerplate(spark):
    """max_shingle_df: a shingle in more docs than the cap must stop
    generating candidate pairs (the d² fan-out guard), while pairs
    sharing a below-cap shingle are untouched."""
    from miningfrequentpattern_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [(i, "en", "common shingle words") for i in range(5)]
    rows += [
        (10, "en", "rare unique phrase here"),
        (11, "en", "rare unique phrase there"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    full = ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=None)
    assert full.count() == 11  # C(5,2) boilerplate pairs + the rare pair
    capped = ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=4)
    got = [(r.doc_a, r.doc_b) for r in capped.collect()]
    assert got == [(10, 11)]


def test_jaccard_sampled_guard_drops_hot_keeps_rare(spark):
    """The SAMPLED df-estimate branch (cap*fraction >= 20, so no exact
    fallback): 300 docs sharing boilerplate shingles (df=300, sampled
    df ~150 >> the 3-sigma cutoff ~33) must stop pairing, while a
    rare below-cap pair survives with its exact Jaccard."""
    from miningfrequentpattern_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [
        (i, "en", f"standard legal header applies w{i} x{i} y{i} z{i}")
        for i in range(300)
    ]
    rows += [
        (1000, "en", "rare unique phrase here"),
        (1001, "en", "rare unique phrase there"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    capped = ngram_jaccard_pairs(
        docs, threshold=0.1, max_shingle_df=40, guard_sample=0.5
    )
    got = [(r.doc_a, r.doc_b) for r in capped.collect()]
    assert got == [(1000, 1001)]
    # Same corpus, guard off: the boilerplate docs all pair up.
    full = ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=None)
    assert full.count() > 1000


def test_cosine_topk_exact_enforces_query_bound(spark):
    """The crossJoin contract is enforced, not just documented: a
    query side larger than max_queries raises with an ANN pointer
    instead of planning an |Q|x|corpus| cartesian."""
    import pytest

    emb = load_table(spark, SF_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        cosine_topk_exact(emb, emb, k=3, max_queries=50)
    # Within the bound (and with the opt-out) the operator still runs.
    q = emb.limit(5)
    assert cosine_topk_exact(q, emb, k=3, max_queries=50).count() == 15
    assert cosine_topk_exact(q, emb, k=3, max_queries=None).count() == 15
    # A LARGE static maxRows (limit above the cap) must NOT reject on
    # its own — it is only an upper bound; the runtime probe measures
    # the actual 5 rows and lets the join run.
    q_loose = emb.filter(F.col("vec_id") < 5).limit(10_000_000)
    assert (
        cosine_topk_exact(q_loose, emb, k=3, max_queries=50).count() == 15
    )


def test_jaccard_guard_scores_filtered_universe(spark):
    """Guarded Jaccard must be the TRUE Jaccard of the post-guard
    shingle sets: denominators exclude flagged shingles exactly like
    the numerator does. Docs 10/11 share one hot shingle (df=8 > cap)
    and one rare shingle; over the filtered universe their Jaccard is
    1/3, so they survive a 0.3 threshold — the pre-fix biased score
    1/(3+3-1)=0.2 (hot shingles still in the denominators) would have
    silently dropped this borderline TRUE pair."""
    rows = [(i, "en", "common boiler plate") for i in range(6)]
    rows += [
        (10, "en", "common boiler plate alpha beta"),
        (11, "en", "common boiler plate alpha gamma"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    got = ngram_jaccard_pairs(
        docs, threshold=0.3, max_shingle_df=4
    ).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(10, 11, 0.3333)]
    # Unguarded cross-check: shared = {common-boiler-plate,
    # boiler-plate-alpha} of 4 total distinct shingles -> 0.5.
    full = ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_df=None)
    pair = [r for r in full.collect() if r.doc_a == 10]
    assert [(r.doc_b, r.jaccard) for r in pair] == [(11, 0.5)]


def test_importance_llr_identities(spark):
    """importance_llr_score invariants: (1) target == whole corpus →
    every per-token ratio and the normalizer are log2(1) = 0, so all
    scores are exactly 0.0; (2) with a proper subset target, documents
    INSIDE the target must average a strictly higher score than those
    outside (the selection signal the operator exists to produce)."""
    docs = _docs(spark)
    all_tgt = T.importance_llr_score(docs, target=F.lit(True))
    assert all_tgt.filter(F.col("llr_score") != 0.0).count() == 0

    scored = T.importance_llr_score(docs, target=F.col("lang") == "en")
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r.is_tgt: r.m
        for r in j.groupBy((F.col("lang") == "en").alias("is_tgt"))
        .agg(F.avg("llr_score").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_importance_llr_bounded_vocab_oov_floor(spark):
    """With vocab_size below the corpus vocabulary, OOV tokens take
    the maximum-surprise floor (c_raw=1, c_tgt=0 → ratio log2(1/2))
    — scores must stay finite and every document still scores."""
    docs = _docs(spark)
    exact = T.importance_llr_score(
        docs, target=F.col("lang") == "en", vocab_size=None
    )
    bounded = T.importance_llr_score(
        docs, target=F.col("lang") == "en", vocab_size=50
    )
    assert bounded.count() == exact.count()
    assert (
        bounded.filter(
            F.col("llr_score").isNull() | F.isnan("llr_score")
        ).count()
        == 0
    )


def test_ngram_novelty_identical_docs(spark):
    """Novelty semantics on a corpus of identical documents: ALL
    shingle first-occurrence credit lands on the lowest doc_id —
    per-source novelty equals (shingles of one doc) / (sum over its
    docs), and a corpus of unique docs scores 1.0 everywhere."""
    from miningfrequentpattern_spark.queries.llm_pack import (
        l28_ngram_novelty,
    )
    import tempfile

    tmp = tempfile.mkdtemp(prefix="novelty_fixture_")
    text = "a b c d e f g h i j"  # 10 tokens -> 6 distinct 5-grams
    rows = [(i, text, "en", "dup_src", len(text)) for i in range(4)] + [
        (
            10 + i,
            " ".join(f"tok{i}_{k}" for k in range(10)),
            "en",
            "uniq_src",
            42,
        )
        for i in range(3)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {
        r.source: (r.n_docs, r.n_shingles, r.n_novel, r.novelty_rate)
        for r in l28_ngram_novelty(spark, tmp).collect()
    }
    # dup_src: 4 docs x 6 shingles; only doc 0's 6 are novel.
    assert out["dup_src"] == (4, 24, 6, 0.25)
    # uniq_src: every doc's shingles are corpus-unique.
    assert out["uniq_src"] == (3, 18, 18, 1.0)


def test_embedding_dim_stats_collapsed_dimension(spark):
    """A constant (collapsed) dimension — exactly what the panel
    exists to surface — must yield std 0.0 and NULL fisher_ratio,
    not a crash, NaN, or engine-dependent x/0 result."""
    import tempfile

    from miningfrequentpattern_spark.queries.llm_pack import (
        l29_embedding_dim_stats,
    )

    tmp = tempfile.mkdtemp(prefix="dimstats_fixture_")
    rows = [
        (i, [5.0, float(i % 3)], i % 2) for i in range(12)
    ]  # dim 1 constant, dim 2 varies
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    out = {r.dim: r for r in l29_embedding_dim_stats(spark, tmp).collect()}
    assert out[1].std == 0.0
    assert out[1].fisher_ratio is None
    assert out[2].std > 0
    assert out[2].fisher_ratio is not None


def test_empty_corpus_topk_schema_takes_each_sides_id_type(spark):
    """ADVICE r4: with an INT-id query side against an empty
    BIGINT-id corpus, the short-circuit empty result must type
    query_id from the QUERIES side and neighbor_id from the CORPUS
    side — exactly as the populated path would — for both ANN tiers."""
    from miningfrequentpattern_spark.operators.similarity import ivf_topk

    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    c = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    for op in (ann_lsh_topk, ivf_topk):
        out = op(q, c, k=3)
        assert out.count() == 0
        got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert got["query_id"] == "int", (op.__name__, got)
        assert got["neighbor_id"] == "bigint", (op.__name__, got)


def test_connected_components_match_union_find(spark):
    """connected_components labels every doc with its component's
    least id, as a union-find does, on adversarial shapes: cliques, a
    path, a star, two components, a seeded random graph, and a 40-hop
    path listed both low id first and high id first. The shapes share
    one call on disjoint id ranges, so settled and unsettled
    components sit in one graph; the long paths take it past label
    propagation into star rounds."""
    import random

    from .test_properties import union_find_components

    rng = random.Random(7)
    shapes = {
        "cliques": [(a, b) for base in (0, 10) for a in range(base, base + 5)
                    for b in range(a + 1, base + 5)],
        "path": [(i, i + 1) for i in range(16)],
        "star": [(0, i) for i in range(1, 20)],
        "two_comps": [(1, 2), (2, 3), (10, 11)],
        "random": list({(min(a, b), max(a, b))
                        for a, b in (sorted(rng.sample(range(40), 2))
                                     for _ in range(50))}),
        "path_40_hops": [(i, i + 1) for i in range(40)],
        "reversed_ids": [(40 - i, 39 - i) for i in range(40)],
    }
    pairs = [
        (a + 100 * k, b + 100 * k)
        for k, edges in enumerate(shapes.values())
        for a, b in edges
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.component for r in connected_components(df).collect()
    }
    want = union_find_components(pairs)
    # a wrong label's shape is its id // 100
    assert got == want, {
        v: (want[v], got.get(v)) for v in want if want[v] != got.get(v)
    }


def test_star_components_survive_chain_that_breaks_propagation(spark):
    """A 40-hop path is longer than label propagation's rounds: the
    star phase must finish it and label every node with the path
    minimum. Star rounds beyond max_iter RAISE — partial labels would
    be wrong, not slow."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(chain).collect()
    }
    assert got == {i: 0 for i in range(41)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def _path(n):
    return [(i, i + 1) for i in range(n)]


# name -> (edges, Observation reads that pass before one raises)
CC_GRAPHS = {
    # label propagation settles in round 3: raise at its second read
    "lp_settles": (_path(3), 1),
    # 4 propagation rounds, the label graph, then star rounds: raise
    # at the second star round's read
    "star_chain": (_path(24), 6),
    # propagation settles in its last round, unconfirmed: the label
    # graph is empty, and its read is the last
    "empty_label_graph": (_path(5), 4),
}


def test_cc_loops_release_per_round_checkpoints(spark):
    """The per-round pins of both connected-components phases must be
    FREED as generations retire — only the returned result's pinned
    blocks (plus pre-existing ones) may remain after the operator
    returns, regardless of how many rounds ran. (New persistent RDDs
    counted by id: an earlier test's may be collected meanwhile.)"""
    for name, (pairs, _) in CC_GRAPHS.items():
        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        base = _persistent_ids(spark)
        assert connected_components(edges).count() == len(pairs) + 1, name
        # one pinned generation: the returned labels
        new = _persistent_ids(spark) - base
        assert len(new) <= 1, (name, new)


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("graph", sorted(CC_GRAPHS))
def test_cc_loops_free_storage_when_probe_raises(spark, monkeypatch, graph):
    """A convergence read that raises must not leave the operator's
    caches or pinned generations behind, in either phase: no
    persistent RDD is added. Both phases read their stopping counts
    from Observations, after the round's pin is taken. (Compared by
    id: an earlier test's RDD may be collected meanwhile.)"""
    from pyspark.sql import Observation

    pairs, passing = CC_GRAPHS[graph]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    base = _persistent_ids(spark)
    real_get = Observation.get.fget
    reads = []

    def get(self):
        reads.append(self)
        if len(reads) > passing:
            raise RuntimeError("probe failed")
        return real_get(self)

    monkeypatch.setattr(Observation, "get", property(get))
    with pytest.raises(RuntimeError, match="probe failed"):
        connected_components(edges)
    monkeypatch.undo()
    assert len(reads) == passing + 1
    assert _persistent_ids(spark) - base == set()


def test_scope_frees_all_but_kept_on_exit_and_on_raise(spark):
    """ckpt.Scope frees every cache and pin it still holds when the
    block is left — returned or raised — except the kept handle; a
    release of a handle it does not hold does nothing."""
    df = spark.range(10)
    base = _persistent_ids(spark)

    def n_persistent():
        return len(_persistent_ids(spark) - base)

    with ckpt.Scope() as s:
        c = s.cache(df.selectExpr("id * 2 AS x"))
        c.count()
        a, b = s.pin(df.filter("id > 2")), s.pin(df.filter("id > 5"))
        assert n_persistent() == 3
        s.release(a)
        s.release(a, df)  # not held (any more): nothing happens
        assert n_persistent() == 2
        kept = s.keep(b)
    assert n_persistent() == 1
    assert kept.count() == 4
    ckpt.release(kept)
    assert n_persistent() == 0

    with pytest.raises(ValueError):
        with ckpt.Scope() as s:
            s.pin(df)
            s.cache(df.selectExpr("id + 1 AS y")).count()
            assert n_persistent() == 2
            raise ValueError
    assert n_persistent() == 0


def test_pq_recall_vs_exact(spark):
    """PQ (8 subspaces × 16 codes, 10× ADC-candidate rerank) must
    recall a solid fraction of exact top-5 — measured 0.79 on the
    synthetic near-uniform embeddings, PQ's worst case — and the
    survivors' cosines must be EXACT (the rerank contract)."""
    from miningfrequentpattern_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk_exact(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in pq_topk(
            q, emb, k=5, n_subspaces=8, n_codes=16, rerank_factor=10,
            seed=42, dim=64,
        ).collect()
    }
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.6, (
        f"pq recall too low: {len(hits)}/{len(exact)}"
    )
    for pair in hits:
        assert abs(exact[pair] - approx[pair]) < 1e-9


def test_pq_rejects_indivisible_dim_and_unbounded_queries(spark):
    """The dim % n_subspaces contract and the bounded-|Q| contract
    (shared with cosine_topk_exact) must RAISE, not mis-encode or
    launch the cartesian."""
    import pytest

    from miningfrequentpattern_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(q, emb, n_subspaces=7, dim=64)
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk(emb, emb, dim=64, max_queries=100)
    with pytest.raises(ValueError, match="no corpus rows"):
        pq_topk(q, emb, dim=64, fit_mod=10**9)


import pytest as _pytest


def _rows_only_names():
    import __spark_entry__ as e

    return sorted(set(e.queries()) - set(e.oracle_sql()))


@_pytest.mark.parametrize("name", _rows_only_names())
def test_rows_only_queries_deterministic_across_invocations(spark, name):
    """Rows-only queries are exactly the ones the driver can check
    ONLY by row count and schema — so every one must be
    DETERMINISTIC (seeded randomness, stable sketches) or its
    recorded driver rows go stale between runs: two independent
    invocations (fresh fits/encodes/sketches) must return identical
    result sets. This generalizes the original l34-only check to the
    whole rows-only family."""
    from miningfrequentpattern_spark.queries.registry import (
        QUERIES,
        load_all_packs,
    )

    load_all_packs()

    def run():
        return sorted(
            map(tuple, QUERIES[name](spark, SF_ORACLE).collect())
        )

    assert run() == run(), f"{name} not deterministic across invocations"


def test_ivfpq_recall_vs_exact_beats_flat_pq_floor(spark):
    """IVF×PQ (8/16 probes, 20× rerank) must beat the flat-PQ
    measured recall (0.79) — measured 0.88 on the synthetic
    near-uniform embeddings — and the survivors' cosines must be
    EXACT (the rerank contract). This is the composition l45
    registers; the floor certifies that pruning candidates did NOT
    cost recall vs scanning everything."""
    from miningfrequentpattern_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk_exact(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in ivfpq_topk(
            q, emb, k=5, n_clusters=16, n_probes=8, n_subspaces=8,
            n_codes=16, rerank_factor=20, seed=42, dim=64,
        ).collect()
    }
    hits = set(exact) & set(approx)
    # Floor ABOVE flat PQ's measured 0.79 (ADVICE r6): IVFxPQ's whole
    # point is beating the unpruned PQ tier; measured 0.88 on these
    # fixtures, 0.80 leaves noise headroom without letting a
    # regression below flat PQ pass silently.
    assert len(hits) / len(exact) >= 0.80, (
        f"ivfpq recall too low: {len(hits)}/{len(exact)}"
    )
    for pair in hits:
        assert abs(exact[pair] - approx[pair]) < 1e-9


def test_ivfpq_empty_corpus_and_indivisible_dim(spark):
    from miningfrequentpattern_spark.operators.similarity import ivfpq_topk
    import pytest

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(q, emb, n_subspaces=7, dim=64)
    empty = emb.filter(F.lit(False))
    out = ivfpq_topk(q, empty, dim=64)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]


def test_ann_dim_mismatch_fails_loudly(spark):
    """ADVICE r6: an explicit `dim` that disagrees with the actual
    vector width must raise at execution, not silently NULL-pad the
    projection dot product and return zero neighbors."""
    import pytest
    from miningfrequentpattern_spark.operators.similarity import (
        ann_lsh_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5)
    # The assert_true failure surfaces as SparkRuntimeException on a
    # quiet session but as a raw Py4JJavaError under suite-parallel
    # conditions (observed both) — pin the MESSAGE, not the wrapper.
    with pytest.raises(Exception, match="vector length != dim"):
        ann_lsh_topk(q, emb, k=3, seed=42, dim=32).collect()
    with pytest.raises(Exception, match="vector length != dim"):
        ivfpq_topk(
            q, emb, k=3, n_clusters=4, n_probes=2, n_subspaces=8,
            n_codes=16, seed=42, dim=32,
        ).collect()


def test_ann_dim_guard_tolerates_null_vectors(spark):
    """ADVICE r7: the dim guard must NOT fire on NULL embedding rows
    (size(NULL) is NULL and assert_true(NULL) throws) — NULL vectors
    are silently excluded exactly as before the guard existed."""
    from miningfrequentpattern_spark.operators.similarity import (
        ann_lsh_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 5 == 0, F.lit(None).cast("array<double>")
        ).otherwise(F.col("embedding").cast("array<double>")),
    )
    q = emb.filter(F.col("vec_id").isin(1, 2, 5))
    got = ann_lsh_topk(q, emb, k=3, seed=42, dim=64).collect()
    # NULL-vector query 5 contributes no rows; non-null queries run
    assert {r["query_id"] for r in got} <= {1, 2}
    assert got, "non-null queries must still produce neighbors"
    got_pq = ivfpq_topk(
        q, emb, k=3, n_clusters=4, n_probes=4, n_subspaces=8,
        n_codes=16, seed=42, dim=64,
    ).collect()
    assert {r["query_id"] for r in got_pq} <= {1, 2}


def test_fuzzy_join_capped_by_default(spark):
    """ADVICE r6: the operator signature a user copies must be the
    scale-safe capped form — max_block_size defaults FINITE, a cap of
    0 drops every block, and the explicit None opt-out reproduces the
    uncapped pair space."""
    import inspect

    from miningfrequentpattern_spark.operators.dedup import (
        fuzzy_blocked_join,
    )

    default = inspect.signature(fuzzy_blocked_join).parameters[
        "max_block_size"
    ].default
    assert default is not None and default >= 1
    docs = spark.createDataFrame(
        [(i, f"same prefix doc {i}") for i in range(5)],
        "doc_id long, text string",
    )
    # one block of 5: the default cap (>= 5) keeps it, cap=0 drops it,
    # None keeps it — and capped-at-4 fires.
    assert fuzzy_blocked_join(docs, max_block_size=0).isEmpty()
    full = fuzzy_blocked_join(docs, max_block_size=None).count()
    assert full == 10  # C(5,2) within distance 10 ("doc i" heads)
    assert fuzzy_blocked_join(docs).count() == 10  # default cap >= 5
    assert fuzzy_blocked_join(docs, max_block_size=4).isEmpty()


def test_fuzzy_join_length_band_is_lossless(spark):
    """The |len_a - len_b| <= max_distance join-side prefilter is a
    true Levenshtein lower bound: results with and without the band
    must be IDENTICAL on inputs where the band genuinely fires
    (head lengths differing by more than the threshold)."""
    from miningfrequentpattern_spark.operators.dedup import (
        fuzzy_blocked_join,
    )

    docs = spark.createDataFrame(
        [
            (1, "same prefix short"),
            (2, "same prefix shorty"),             # dist 1 from 1
            (3, "same prefix " + "x" * 60),        # len-band drops vs 1/2
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in fuzzy_blocked_join(docs, max_distance=10).collect()
    }
    # naive check without any band: full pair set within the block
    import itertools

    rows = {r.doc_id: r.text[:80] for r in docs.collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    naive = {
        (i, j): lev(rows[i], rows[j])
        for i, j in itertools.combinations(sorted(rows), 2)
        if lev(rows[i], rows[j]) <= 10
    }
    assert got == naive == {(1, 2): 1}


def test_ivfpq_fit_cache_identical_and_keyed(spark):
    """VERDICT r7 l45 shave: fit_cache_key memoizes the seeded coarse
    centers + PQ codebooks per (SparkContext, key, params). A cache
    hit must return BIT-IDENTICAL results to the fresh fit (the fits
    are deterministic, so this is an equality check, not a tolerance
    check), and different fit params under the same key must NOT
    collide."""
    from miningfrequentpattern_spark.operators.similarity import (
        _FIT_CACHE,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    kw = dict(
        k=5, n_clusters=8, n_probes=4, n_subspaces=8, n_codes=16,
        rerank_factor=8, seed=42, dim=64,
    )
    fresh = sorted(
        map(tuple, ivfpq_topk(q, emb, **kw).collect())
    )
    before = len(_FIT_CACHE)
    cached1 = sorted(
        map(tuple, ivfpq_topk(q, emb, fit_cache_key="t", **kw).collect())
    )
    filled = len(_FIT_CACHE)
    cached2 = sorted(
        map(tuple, ivfpq_topk(q, emb, fit_cache_key="t", **kw).collect())
    )
    assert fresh == cached1 == cached2
    assert filled == before + 2  # coarse + codebooks entries
    assert len(_FIT_CACHE) == filled  # second call HIT, no refit
    # a different param set under the same key must key separately:
    # n_clusters is a COARSE-fit param only, so exactly one new entry
    # (the PQ codebooks are cluster-count-independent and correctly
    # shared)
    kw2 = dict(kw, n_clusters=4)
    ivfpq_topk(q, emb, fit_cache_key="t", **kw2).count()
    assert len(_FIT_CACHE) == filled + 1


def test_ivfpq_overlapped_fits_match_sequential_reference(spark):
    """Optimization r11 (guide §2.6): ivfpq_topk runs its coarse
    KMeans fit and the 8 PQ codebook fits on two concurrent driver
    threads (they are independent seeded estimators over the same
    normalized corpus). The overlap must be invisible in the values:
    the fitted arrays must be BIT-IDENTICAL to fitting the same
    estimators sequentially — an equality check, not a tolerance
    check (seeded MLlib fits are deterministic)."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from miningfrequentpattern_spark.operators.similarity import (
        _pq_fit_codebooks,
        l2_normalize,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    c = (
        emb.select(F.col("vec_id"), F.col("embedding").alias("_arr"))
        .filter(F.col("_arr").isNotNull())
        .withColumn("_nv", l2_normalize("_arr"))
    )
    n_clusters, n_subspaces, n_codes, seed = 8, 8, 16, 42
    sub = 64 // n_subspaces

    def fit_coarse():
        fit_vec = (
            c.select(array_to_vector(F.col("_nv")).alias("_v"))
            .coalesce(8)
            .cache()
        )
        try:
            km = KMeans(
                k=n_clusters, seed=seed,
                featuresCol="_v", predictionCol="_cid",
            )
            model = km.fit(fit_vec)
        finally:
            fit_vec.unpersist()
        return np.array(
            [np.asarray(cc) for cc in model.clusterCenters()]
        )

    def fit_pq():
        return _pq_fit_codebooks(
            c, "vec_id", n_subspaces, n_codes, sub, seed, 1,
            cache_key=None, op="test",
        ).value

    seq = (fit_coarse(), fit_pq())
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fb = pool.submit(fit_coarse), pool.submit(fit_pq)
        par = (fa.result(), fb.result())
    assert np.array_equal(seq[0], par[0])
    assert np.array_equal(seq[1], par[1])

    # Production-path anchor (ADVICE r11): the reference above
    # re-implements the coarse fit; also exercise ivfpq_topk's OWN
    # overlapped wiring (fit_cache_key=None → both fits run fresh on
    # the two driver threads each call) and require two invocations
    # to agree exactly — drift in _fit_coarse/_fit_pq wiring fails
    # here even if the re-implementation stays green.
    from miningfrequentpattern_spark.operators.similarity import (
        ivfpq_topk,
    )

    q = emb.filter(F.col("vec_id") < 10)
    kw = dict(
        k=5, n_clusters=8, n_probes=4, n_subspaces=8, n_codes=16,
        rerank_factor=8, seed=42, dim=64,
    )
    run1 = sorted(map(tuple, ivfpq_topk(q, emb, **kw).collect()))
    run2 = sorted(map(tuple, ivfpq_topk(q, emb, **kw).collect()))
    assert run1 == run2


def test_weighted_sample_survives_huge_doc_ids(spark, tmp_path):
    """Registry backlog item (i), r10: l36's A-ES key hash must reduce
    doc_id mod 2^31 BEFORE the Knuth multiply — the raw product wraps
    int64 for doc_id >= ~3.5e9 (Spark silently emits a corrupt sample;
    DuckDB errors on the overflow), which is exactly the doc_id range
    a 100 TB corpus reaches. Drive the REGISTERED query and its
    REGISTERED oracle end-to-end on a synthetic fixture whose doc_ids
    straddle the wrap point; sub-2^31 ids must also hash identically
    to the pre-fix formula (the fixture sample is unchanged)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as e

    wrap = 3_500_000_000  # ~2^63 / 2654435761
    ids = [7, 12345, 2**31 - 1, 2**31, wrap, 2**33 + 5, 2**62 + 11]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(ids, dtype="int64"),
            "text": [f"alpha beta gamma {i % 5} delta" for i in ids],
            "lang": ["en"] * len(ids),
            "source": ["web"] * len(ids),
            "n_chars": [30] * len(ids),
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    got = (
        e.queries()["l36_weighted_sample"](spark, str(tmp_path))
        .orderBy("doc_id")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = con.execute(
        e.oracle_sql()["l36_weighted_sample"] + " OFFSET 0"
    ).df().sort_values("doc_id")
    assert [r["doc_id"] for r in got] == list(want["doc_id"])
    assert [r["sample_key"] for r in got] == list(want["sample_key"])
    # every key in (0, 1]: a wrapped negative product would push the
    # pre-division numerator negative and the key out of range
    assert all(0.0 < r["sample_key"] <= 1.0 for r in got)
    # sub-2^31 ids hash exactly as the pre-fix formula did
    for r in got:
        if r["doc_id"] < 2**31:
            u = ((r["doc_id"] * 2654435761) % 4294967296 + 1) / 4294967297.0
            assert abs(r["sample_key"] - round(u ** (1 / 5), 6)) < 1e-12


def test_ivf_rejects_mismatched_query_width(spark):
    """r10 sweep (the ann/pq mis-sized-dim class): a query side whose
    vectors are narrower than the corpus crashed the probe UDF with a
    raw numpy broadcasting error; it now raises by name."""
    import pytest

    from miningfrequentpattern_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).withColumn(
        "embedding", F.slice("embedding", 1, 32)
    )
    with pytest.raises(Exception, match="width"):
        ivf_topk(q, emb, k=3, n_clusters=8, n_probes=2, seed=42).collect()


def test_truncated_recall_rejects_overwide_trunc_dim(spark):
    """r10 sweep: F.slice clamps past the end, so trunc_dim > width
    silently compared the FULL vectors and reported recall 1.0 for a
    truncation that was never evaluated."""
    import pytest

    from miningfrequentpattern_spark.operators.similarity import (
        truncated_dim_recall,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(Exception, match="trunc_dim"):
        truncated_dim_recall(q, emb, trunc_dims=[128], k=3).collect()


def test_pq_fit_sample_smaller_than_n_codes_raises(spark):
    """r10 sweep: a NON-empty fit sample smaller than n_codes passed
    the isEmpty guard, random-init KMeans returned fewer centers, and
    the ADC table write crashed with an opaque numpy shape error."""
    import pytest

    from miningfrequentpattern_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).filter(F.col("vec_id") < 12)
    q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="n_codes"):
        pq_topk(q, emb, k=3, n_subspaces=8, n_codes=16,
                rerank_factor=4, seed=42, dim=64)


def test_minhash_portable_recall_and_estimate_quality(spark):
    """The portable affine-permutation MinHash must (a) recover every
    exact-Jaccard>=0.5 pair at est threshold 0.2 (planted near-dups
    are ~0.99 similar — 16 permutations agree almost everywhere), and
    (b) estimate within 0.35 absolute of the exact Jaccard on the
    recovered pairs (16 perms => sd ~0.125 at j=0.5)."""
    from miningfrequentpattern_spark.operators.dedup import (
        minhash_portable_pairs,
    )

    docs = _docs(spark).withColumn("tokens", T.tokens("text"))
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, block_col="lang", n=3, threshold=0.5
        ).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_portable_pairs(
            docs, num_perm=16, threshold=0.2
        ).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    hits = [p for p in exact if p in est]
    recall = len(hits) / len(exact)
    assert recall >= 0.9, f"portable minhash recall too low: {recall}"
    worst = max(abs(est[p] - exact[p]) for p in hits)
    assert worst <= 0.35, f"estimate error too high: {worst}"


def test_minhash_portable_is_deterministic_and_null_safe(spark):
    """No seeds, no fit: two runs give identical pair sets, and
    NULL-text / under-3-token docs drop at the boundary instead of
    crashing (shingles(NULL) -> NULL -> size -1 -> filtered)."""
    from miningfrequentpattern_spark.operators.dedup import (
        minhash_portable_pairs,
    )

    schema = "doc_id long, text string"
    base = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, None),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(base, schema).withColumn(
        "tokens", T.tokens("text")
    )
    out1 = sorted(
        map(tuple, minhash_portable_pairs(docs, threshold=0.2).collect())
    )
    out2 = sorted(
        map(tuple, minhash_portable_pairs(docs, threshold=0.2).collect())
    )
    assert out1 == out2
    assert out1, "the planted near-dup pair should surface"
    assert all(r[0] == 1 and r[1] == 2 for r in out1)
    # empty corpus: schema-stable empty result, no crash
    empty = spark.createDataFrame([], schema).withColumn(
        "tokens", T.tokens("text")
    )
    res = minhash_portable_pairs(empty)
    assert res.count() == 0
    assert res.columns == ["doc_a", "doc_b", "est_jaccard"]


def test_ivf_portable_recall_and_exact_rerank(spark):
    """The deterministic seed-point IVF (4/16 probes) must recall a
    solid fraction of exact top-5, return only true cosine values
    (exact rerank), and be run-to-run identical (no seeds, no fit)."""
    from miningfrequentpattern_spark.operators.similarity import (
        cosine_topk_exact,
        ivf_topk_portable,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk_exact(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in ivf_topk_portable(
            q, emb, k=5, n_clusters=16, n_probes=4
        ).collect()
    }
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.4, (
        f"portable ivf recall too low: {len(hits)}/{len(exact)}"
    )
    for pair in hits:
        assert abs(exact[pair] - approx[pair]) < 1e-9
    rerun = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in ivf_topk_portable(
            q, emb, k=5, n_clusters=16, n_probes=4
        ).collect()
    }
    assert rerun == approx


def test_ivf_portable_empty_and_ragged_edges(spark):
    """Empty corpus returns the schema-stable empty result; ragged
    corpus widths are named at plan time instead of surfacing as a
    zip_with length quirk deep in an executor."""
    import pytest

    from miningfrequentpattern_spark.operators.similarity import (
        ivf_topk_portable,
    )

    schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    q = spark.createDataFrame([(1, [1.0, 0.0])], schema)
    res = ivf_topk_portable(q, empty)
    assert res.count() == 0
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 3.0])], schema
    )
    with pytest.raises(ValueError, match="ragged"):
        ivf_topk_portable(q, ragged, n_clusters=2)
