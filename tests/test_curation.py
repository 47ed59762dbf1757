"""Corpus-curation operators (operators/curation.py): oracle parity
on the sf0.01 tables plus hand-built semantic cases for the span
merge, the prune rule, the importance-weight ordering, and the two
capacity planners' closed forms."""

from __future__ import annotations

import math

import pytest
from conftest import SF_ORACLE, assert_parity

from selfhealingdatapipeline_gcp_spark import registry
from selfhealingdatapipeline_gcp_spark.operators import curation

NAMES = ("dedup_substring_spans", "semdedup_prune",
         "dsir_importance_weights", "text_bigram_logprob",
         "minhash_band_tuning", "bloom_size_advisor")


@pytest.mark.parametrize("name", NAMES)
def test_parity(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def test_substring_spans_planted_duplicate(spark):
    """Two docs sharing a 10-token run: every position whose 8-token
    shingle falls inside the shared run is marked, and the marked
    positions merge into ONE maximal span per doc."""
    shared = "a b c d e f g h i j"          # 10 tokens → 3 dup shingles
    d = _docs(spark, [
        f"{shared} unique1 tail1 xx yy",
        f"lead2 zz {shared} unique2",
        "short doc only",                    # < 8 tokens → no rows
    ])
    out = {r.doc_id: r for r in
           curation.dedup_substring_spans(d).collect()}
    assert set(out) == {0, 1}
    # doc 0: run starts at position 0, 3 shingle starts (0,1,2),
    # span covers tokens 0..9
    assert (out[0].span_start, out[0].span_end,
            out[0].span_tokens, out[0].n_dup_shingles) == (0, 9, 10, 3)
    # doc 1: run starts at position 2 → span 2..11
    assert (out[1].span_start, out[1].span_end,
            out[1].span_tokens, out[1].n_dup_shingles) == (2, 11, 10, 3)


def test_substring_spans_merges_adjacent_islands(spark):
    """Two dup runs separated by > k tokens stay SEPARATE spans."""
    run1 = "a b c d e f g h"                 # 8 tokens, 1 shingle
    run2 = "p q r s t u v w"
    gap = " ".join(f"g{i}" for i in range(12))
    d = _docs(spark, [
        f"{run1} {gap} {run2}",
        f"{run1} x1 x2 x3 {run2}",           # repeats both runs
    ])
    rows = curation.dedup_substring_spans(d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[0]) == 2               # far apart → two islands
    assert [r.span_tokens for r in by_doc[0]] == [8, 8]


def test_semdedup_prune_is_total_and_min_id_kept(spark):
    out = registry.queries()["semdedup_prune"](spark, SF_ORACLE)
    rows = out.collect()
    assert len(rows) == 500                   # one row per vector
    assert len({r.vec_id for r in rows}) == 500
    # the globally smallest vec_id can never have a smaller-id
    # partner → always kept
    assert min(rows, key=lambda r: r.vec_id).kept is True
    # the prune rule fires on this corpus (planted near-dups exist)
    assert any(not r.kept for r in rows)


def test_dsir_separates_disjoint_vocabularies(spark):
    """Docs written purely in target-slice vocabulary must outweigh
    docs written purely in raw-slice vocabulary (the defining DSIR
    property); source 'a' (lexicographically smallest) is target."""
    tgt_text = "alpha beta gamma delta " * 8
    raw_text = "omega psi chi phi " * 8
    d = spark.createDataFrame(
        [(1, tgt_text.strip(), "en", "a", 1),
         (2, tgt_text.strip(), "en", "a", 1),
         (3, raw_text.strip(), "en", "b", 1),
         (4, raw_text.strip(), "en", "b", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    w = {r.doc_id: r.dsir_logweight
         for r in curation.dsir_importance_weights(d).collect()}
    assert w[1] > 0 > w[3]
    assert w[1] == w[2] and w[3] == w[4]


def test_bigram_logprob_hand_case(spark):
    """Corpus 'a b' + 'a c': c(a)=2, c(a,b)=1 → nll(a b) = ln 2."""
    d = _docs(spark, ["a b", "a c"])
    rows = {r.doc_id: r for r in
            curation.text_bigram_logprob(d).collect()}
    expect = math.floor(math.floor(math.log(2) * 1e6) / 100.0) / 1e4
    assert rows[0].n_bigrams == 1
    assert rows[0].avg_neg_logprob == expect
    assert rows[1].avg_neg_logprob == expect


def test_band_tuning_recall_monotone_in_rows(spark):
    """For a fixed 32-hash budget, detection probability is pointwise
    decreasing in rows-per-band — so est_recall must be non-increasing
    and (32,1) must dominate."""
    out = (registry.queries()["minhash_band_tuning"](spark, SF_ORACLE)
           .collect())
    assert [r.rows_per_band for r in out] == [1, 2, 4, 8, 16, 32]
    recalls = [r.est_recall for r in out if r.est_recall is not None]
    assert recalls == sorted(recalls, reverse=True)
    fps = [r.est_fp_share for r in out if r.est_fp_share is not None]
    assert fps == sorted(fps, reverse=True)
    assert all(r.n_candidates == out[0].n_candidates for r in out)


def test_bloom_advisor_closed_form(spark, duck):
    out = (registry.queries()["bloom_size_advisor"](spark, SF_ORACLE)
           .collect())
    n = duck.execute(
        "SELECT count(DISTINCT md5(text)) FROM documents").fetchone()[0]
    assert [r.fpp for r in out] == sorted(curation.BLOOM_FPPS)
    for r in out:
        c, k = curation.bloom_constants(r.fpp)
        assert r.n_distinct == n
        assert r.m_bits == math.ceil(n * c)
        assert r.k_hashes == k
    # tighter fpp → strictly more bits
    bits = [r.m_bits for r in out]
    assert bits == sorted(bits, reverse=True)


def test_pow2_chain_matches_pow():
    for e in (1, 2, 4, 8, 16, 32):
        assert curation._pow2_chain(3.0, e) == 3.0 ** e
        sql = curation._pow2_chain_sql("3.0", e)
        assert eval(sql.replace(" ", "")) == 3.0 ** e  # noqa: S307


# ---------------------------------------------------------------------------
# batch 2: rule filters, winnowing, semdedup sweep
# ---------------------------------------------------------------------------

NAMES2 = ("quality_gopher_rules", "quality_c4_rules",
          "doc_winnow_fingerprints", "semdedup_threshold_sweep")


@pytest.mark.parametrize("name", NAMES2)
def test_parity_batch2(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def test_gopher_rules_hand_cases(spark):
    good = ("the quick brown fox and the lazy dog of a farm in town "
            * 5).strip()                       # 60 words, stopword-rich
    short = "the cat sat"                       # fails word count
    symbols = " ".join(["#"] * 60)              # fails symbol + stopword
    d = _docs(spark, [good, short, symbols])
    out = {r.doc_id: r for r in
           curation.quality_gopher_rules(d).collect()}
    assert out[0].gopher_pass is True
    assert out[1].gopher_pass is False and out[1].pass_word_count is False
    assert out[2].pass_symbol_ratio is False
    assert out[2].pass_stopwords is False


def test_c4_rules_hand_cases(spark):
    d = _docs(spark, [
        "One sentence. Two sentences! Three sentences? Yes indeed.",
        "no terminal punctuation here at all",
        "contains lorem ipsum filler. more text. and more. done.",
        "has a { curly brace. two. three. four.",
    ])
    out = {r.doc_id: r for r in curation.quality_c4_rules(d).collect()}
    assert out[0].c4_pass is True and out[0].n_sentences == 4
    assert out[1].c4_pass is False and out[1].ends_terminal is False
    assert out[2].c4_pass is False and out[2].has_lorem_ipsum is True
    assert out[3].c4_pass is False and out[3].has_curly_brace is True


def test_winnowing_guarantee(spark):
    """Any shared run of >= k+w-1 = 7 tokens must share at least one
    selected fingerprint (the winnowing covering guarantee)."""
    shared = "s1 s2 s3 s4 s5 s6 s7"            # exactly k+w-1 tokens
    d = _docs(spark, [
        f"a1 a2 a3 {shared} a4 a5",
        f"b1 {shared} b2 b3 b4 b5 b6",
    ])
    rows = curation.doc_winnow_fingerprints(d).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert fps[0] & fps[1], "shared 7-token run must share a fingerprint"


def test_winnowing_density(spark):
    """Selected fingerprints are a strict subsample of all grams, and
    positions are valid gram starts."""
    out = registry.queries()["doc_winnow_fingerprints"](
        spark, SF_ORACLE).collect()
    assert out
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.pos)
    for doc, ps in per_doc.items():
        assert len(ps) == len(set(ps))
        assert all(p >= 0 for p in ps)


def test_semdedup_sweep_consistent_with_prune(spark):
    """At the lowest cut (0.35) the sweep's n_pruned equals the
    number of vectors semdedup_prune drops at threshold 0.35."""
    sweep = {r.threshold_e6: r for r in
             registry.queries()["semdedup_threshold_sweep"](
                 spark, SF_ORACLE).collect()}
    pruned = sum(1 for r in registry.queries()["semdedup_prune"](
        spark, SF_ORACLE).collect() if not r.kept)
    assert sweep[350000].n_pruned == pruned
    # monotone: higher cut prunes no more than a lower cut
    vals = [sweep[t].n_pruned for t in sorted(sweep)]
    assert vals == sorted(vals, reverse=True)
    assert len(vals) == 13


# ---------------------------------------------------------------------------
# batch 3: corpus scaling-law / concentration statistics
# ---------------------------------------------------------------------------

NAMES3 = ("corpus_novelty_curve", "heaps_law_fit", "token_gini",
          "doc_length_lorenz", "perplexity_ttr_agreement")


@pytest.mark.parametrize("name", NAMES3)
def test_parity_batch3(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def test_novelty_curve_identical_corpus_saturates(spark):
    """All docs identical → every shingle is first seen in bucket 0;
    later buckets contribute occurrences but zero novelty."""
    text = " ".join(f"w{i}" for i in range(20))
    d = _docs(spark, [text] * 10)
    rows = {r.bucket: r for r in
            curation.corpus_novelty_curve(d).collect()}
    assert len(rows) == 10
    assert rows[0].n_new_shingles == 13          # 20 - 8 + 1 positions
    assert all(rows[b].n_new_shingles == 0 for b in range(1, 10))
    assert rows[9].cum_new_shingles == 13
    # occurrences are uniform (one doc per bucket)
    assert all(rows[b].n_shingle_occurrences == 13 for b in range(10))
    assert rows[0].novelty_rate_e6 == 1_000_000
    assert rows[5].novelty_rate_e6 == 0


def test_novelty_curve_grid_is_total(spark):
    """Short docs (< k tokens) produce zero shingles but the grid
    still emits all 10 buckets with null rates."""
    d = _docs(spark, ["tiny doc"] * 4)
    rows = curation.corpus_novelty_curve(d).collect()
    assert [r.bucket for r in rows] == list(range(10))
    assert all(r.novelty_rate_e6 is None for r in rows)


def test_heaps_fit_saturated_vs_growing(spark):
    """A source whose vocabulary saturates instantly fits b ≈ 0; a
    source with fresh tokens per doc fits a clearly larger b."""
    sat = [("sat", " ".join("tok%d" % (j % 5) for j in range(30)))
           for _ in range(20)]
    grow = [("grow", " ".join(f"u{i}_{j}" for j in range(30)))
            for i in range(20)]
    rows = [(n, t[1], "en", t[0], 1) for n, t in
            enumerate(sat + grow)]
    d = spark.createDataFrame(
        [(i, txt, lg, src, nc) for (i, txt, lg, src, nc) in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r.source: r for r in curation.heaps_law_fit(d).collect()}
    assert out["sat"].heaps_exponent < 0.05
    assert out["grow"].heaps_exponent > 0.5
    assert out["sat"].total_types == 5
    assert out["grow"].total_types == 600


def test_token_gini_uniform_is_zero(spark):
    """Every type appearing exactly once → perfectly equal
    distribution → Gini = 0 and the Lorenz diagonal."""
    d = _docs(spark, [" ".join(f"t{i}" for i in range(100))])
    rows = curation.token_gini(d).collect()
    assert all(r.gini_e6 == 0 for r in rows)
    for r in rows:
        assert r.cum_type_share_e6 == r.cum_token_share_e6


def test_token_gini_skewed_is_high(spark):
    """One type holding almost all mass → Gini near 1."""
    d = _docs(spark, [("zz " * 1000) + " ".join(
        f"r{i}" for i in range(10))])
    rows = curation.token_gini(d).collect()
    assert rows[0].gini_e6 > 800_000
    # top decile (the frequent type) holds almost all token mass
    assert rows[-1].cum_token_share_e6 == 1_000_000


def test_doc_length_lorenz_closure_and_monotone(spark):
    out = registry.queries()["doc_length_lorenz"](
        spark, SF_ORACLE).collect()
    assert out[-1].cum_doc_share_e6 == 1_000_000
    assert out[-1].cum_token_share_e6 == 1_000_000
    docs = [r.cum_doc_share_e6 for r in out]
    toks = [r.cum_token_share_e6 for r in out]
    assert docs == sorted(docs) and toks == sorted(toks)
    # ascending-length bins: doc share runs AHEAD of token share
    for r in out[:-1]:
        assert r.cum_doc_share_e6 >= r.cum_token_share_e6


def test_perplexity_ttr_signs(spark):
    """Two docs per source sharing the hub token 'x': the looping doc
    (x c x c ...) re-walks ONE continuation of x → low NLL, low TTR;
    the varied doc takes a fresh continuation each time (x b1 x b2
    ...) → high NLL, high TTR. n=2 degenerates Pearson to sign
    agreement → +1. A source with identical docs has zero variance
    → null."""
    rep = "x c x c x c x c"
    var = "x b1 x b2 x b3 x b4"
    d = spark.createDataFrame(
        [(0, rep, "en", "s1", 1), (1, var, "en", "s1", 1),
         (2, "z1 z2 z3 z4 z5", "en", "s2", 1),
         (3, "z1 z2 z3 z4 z5", "en", "s2", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r.source: r for r in
           curation.perplexity_ttr_agreement(d).collect()}
    assert out["s1"].pearson_r is not None
    assert out["s1"].pearson_r > 0.9
    assert out["s2"].pearson_r is None           # zero variance


# ---------------------------------------------------------------------------
# batch 4: privacy / split integrity / epoch scheduling
# ---------------------------------------------------------------------------

NAMES4 = ("l_diversity_audit", "pii_density_report",
          "split_contamination_matrix", "epoch_shuffle_plan")


@pytest.mark.parametrize("name", NAMES4)
def test_parity_batch4(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def test_l_diversity_flags_homogeneous_class(spark):
    """A QI class with MANY rows but ONE sensitive value is
    k-anonymous yet l-diverse-unsafe — the defining separation."""
    from selfhealingdatapipeline_gcp_spark.operators import quality
    rows = ([(i, 1, "SEG_A", 500.0) for i in range(50)]     # l = 1
            + [(100 + i, 2, "SEG_B", 1000.0 * i)            # l = 5
               for i in range(5)])
    d = spark.createDataFrame(
        rows, "c_custkey long, c_nationkey int, c_mktsegment string, "
        "c_acctbal double")
    out = {r.l: r for r in quality.l_diversity_audit(d).collect()}
    assert out[2].n_groups == 2 and out[2].n_rows == 55
    # the 50-row homogeneous class is below every threshold
    assert out[2].n_groups_below_l == 1
    assert out[2].n_rows_below_l == 50
    # at l=10 BOTH classes are below (5 < 10 too)
    assert out[10].n_groups_below_l == 2
    assert out[10].n_rows_below_l == 55


def test_pii_density_sequential_rule(spark):
    """A card number is counted once as card, never again as phone;
    per-source sums match the per-kind plants."""
    from selfhealingdatapipeline_gcp_spark.operators import dataprep
    d = spark.createDataFrame(
        [(0, "call 4111-1111-1111-1111 now", "en", "s1", 1),
         (1, "mail a@b.com or c@d.org", "en", "s1", 1),
         (2, "clean document here", "en", "s2", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r.source: r for r in
           dataprep.pii_density_report(d).collect()}
    assert out["s1"].n_card == 1
    assert out["s1"].n_phone == 0          # card consumed the digits
    assert out["s1"].n_email == 2
    assert out["s1"].n_docs_with_pii == 2
    assert out["s2"].n_docs_with_pii == 0
    assert out["s2"].hits_per_mchar == 0


def test_split_contamination_identical_corpus(spark):
    """All docs identical → every split holds the SAME shingle set →
    pairwise Jaccard 1e6 wherever both sides are non-empty."""
    text = " ".join(f"w{i}" for i in range(12))
    d = _docs(spark, [text] * 200)           # 200 docs hit all splits
    rows = curation.split_contamination_matrix(d).collect()
    assert len(rows) == 3
    assert ([tuple([r.split_a, r.split_b]) for r in rows]
            == [("train", "test"), ("train", "val"), ("val", "test")])
    for r in rows:
        assert r.n_shared <= min(r.n_shingles_a, r.n_shingles_b)
        if r.n_shingles_a and r.n_shingles_b:
            assert r.jaccard_e6 == 1_000_000


def test_split_contamination_disjoint(spark):
    """One doc only → exactly one split is non-empty → zero shared
    everywhere and null jaccard for empty-empty pairs."""
    d = _docs(spark, ["a b c d e"])
    rows = curation.split_contamination_matrix(d).collect()
    assert all(r.n_shared == 0 for r in rows)


def test_epoch_shuffle_plan_conservation_and_decorrelation(spark):
    out = registry.queries()["epoch_shuffle_plan"](
        spark, SF_ORACLE).collect()
    assert len(out) == 48                     # 3 epochs × 16 buckets
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r.epoch, []).append(r)
    for e, rows in by_epoch.items():
        assert sum(r.n_docs for r in rows) == 500
        shares = sum(r.share_e6 for r in rows)
        assert 1_000_000 - 16 <= shares <= 1_000_000
    # epochs re-shuffle: the bucket-size vector must differ across
    # epochs (md5 salting makes a collision astronomically unlikely)
    v = {e: tuple(r.n_docs for r in sorted(rows,
                                           key=lambda x: x.bucket))
         for e, rows in by_epoch.items()}
    assert len(set(v.values())) == 3


# ---------------------------------------------------------------------------
# batch 5: retrieval / clustering evaluation (similarity.py)
# ---------------------------------------------------------------------------

NAMES5 = ("ann_ndcg_report", "embedding_silhouette")


@pytest.mark.parametrize("name", NAMES5)
def test_parity_batch5(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def _vecs(spark, rows):
    """rows: list of (vec_id, embedding list, label)."""
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long")


def test_ndcg_weights_monotone_and_integer():
    from selfhealingdatapipeline_gcp_spark.operators.similarity import \
        ndcg_weights
    ws, prefix = ndcg_weights(5)
    assert ws[0] == 10 ** 9                    # 1/log2(2) = 1
    assert ws == sorted(ws, reverse=True)
    assert all(isinstance(w, int) for w in ws)
    assert prefix[5] == sum(ws)


def test_ndcg_separated_beats_mixed_labels(spark):
    """Same point cloud, two labelings: geometry-aligned labels (two
    tight clusters, label = cluster) must score strictly higher nDCG
    and precision than adversarial alternating labels (label =
    vec_id parity, so ~half of every neighborhood is irrelevant).
    Robust to the cell grid — both runs share the exact same cells
    and edges, only relevance flips."""
    from selfhealingdatapipeline_gcp_spark.operators import similarity
    pts = ([(i, [1.0, 0.0001 * i, 0.0, 0.0]) for i in range(30)]
           + [(100 + i, [0.0001 * i, 1.0, 0.0, 0.0])
              for i in range(30)])
    aligned = [(vid, v, 0 if vid < 100 else 1) for vid, v in pts]
    mixed = [(vid, v, vid % 2) for vid, v in pts]
    oa = {r.label: r for r in similarity.ann_ndcg_report(
        _vecs(spark, aligned)).collect()}
    om = {r.label: r for r in similarity.ann_ndcg_report(
        _vecs(spark, mixed)).collect()}
    for lab in (0, 1):
        assert 0 <= om[lab].mean_ndcg_e6 < oa[lab].mean_ndcg_e6
        assert om[lab].precision_at_k_e6 < oa[lab].precision_at_k_e6
        assert oa[lab].mean_ndcg_e6 <= 1_000_000
    # aligned clusters are far apart → every retrieved neighbor is
    # same-label → per-anchor precision = n_retrieved/5 ≥ 1/5
    for lab in (0, 1):
        assert oa[lab].precision_at_k_e6 >= 200_000


def test_silhouette_separated_vs_mixed(spark):
    """Tight separated clusters score near 1; a label whose members
    sit ON the other label's centroid scores negative."""
    from selfhealingdatapipeline_gcp_spark.operators import similarity
    sep = ([(i, [1.0, 0.001 * i, 0.0], 0) for i in range(3)]
           + [(10 + i, [0.0, 1.0, 0.001 * i], 1) for i in range(3)])
    out = {r.label: r for r in
           similarity.embedding_silhouette(_vecs(spark, sep)).collect()}
    assert out[0].mean_silhouette_e6 > 900_000
    assert out[1].mean_silhouette_e6 > 900_000
    # now plant label 2's members straddling label 0's centroid
    # (distinct points, so no degenerate cos_own = cos_oth = 1)
    mixed = sep + [(20 + i, [1.0, 0.0005 + 0.0005 * i, 0.0], 2)
                   for i in range(3)]
    out2 = {r.label: r for r in
            similarity.embedding_silhouette(
                _vecs(spark, mixed)).collect()}
    # label 0 and 2 overlap: both near the boundary (|s| small or
    # negative), label 1 stays separated
    assert out2[1].mean_silhouette_e6 > 800_000
    assert out2[0].mean_silhouette_e6 < 500_000
    assert out2[2].mean_silhouette_e6 < 500_000


# ---------------------------------------------------------------------------
# batch 6: streaming PII guard + source-grain LM profile
# ---------------------------------------------------------------------------

NAMES6 = ("streaming_pii_guard", "source_bigram_nll_profile")


@pytest.mark.parametrize("name", NAMES6)
def test_parity_batch6(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def test_streaming_pii_guard_chop_invariance(spark, tmp_path):
    """A 3-file source with maxFilesPerTrigger=1 runs >= 2
    micro-batches; the epoch union must equal the batch
    pii_density-style per-doc counts — a doc's PII score depends
    only on its own text, never on micro-batch peers."""
    import os
    from selfhealingdatapipeline_gcp_spark import catalog
    from selfhealingdatapipeline_gcp_spark.operators.dataprep import (
        PII_PATTERNS)
    from selfhealingdatapipeline_gcp_spark.streaming import monitors
    from pyspark.sql import functions as F

    src = str(tmp_path / "sf_pii")
    os.makedirs(src)
    docs = catalog.load(spark, SF_ORACLE, "documents")
    docs.repartition(3).write.parquet(f"{src}/documents.parquet")

    streamed = {r.doc_id: (r.n_email, r.n_phone, r.n_card, r.has_pii)
                for r in monitors.streaming_pii_guard(
                    spark, src, max_files_per_trigger=1).collect()}
    red = F.col("text")
    counts = {}
    for kind in ("card", "phone", "email"):
        pat = PII_PATTERNS[kind]
        counts[kind] = (F.size(F.split(red, pat)) - 1).cast("bigint")
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    loaded = catalog.load(spark, src, "documents")
    batch = {r.doc_id: (r.n_email, r.n_phone, r.n_card,
                        (r.n_email + r.n_phone + r.n_card) > 0)
             for r in loaded.select(
                 "doc_id", counts["email"].alias("n_email"),
                 counts["phone"].alias("n_phone"),
                 counts["card"].alias("n_card")).collect()}
    assert streamed == batch and len(batch) == 500


def test_streaming_pii_guard_flags_planted_pii(spark, tmp_path):
    import os
    from selfhealingdatapipeline_gcp_spark.streaming import monitors
    src = str(tmp_path / "sf_plant")
    os.makedirs(src)
    d = spark.createDataFrame(
        [(0, "reach me at a@b.com today", "en", "s", 1),
         (1, "wire 4111-1111-1111-1111 now", "en", "s", 1),
         (2, "nothing sensitive here", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    d.write.parquet(f"{src}/documents.parquet")
    out = {r.doc_id: r for r in monitors.streaming_pii_guard(
        spark, src).collect()}
    assert out[0].has_pii is True and out[0].n_email == 1
    assert out[1].has_pii is True and out[1].n_card == 1
    assert out[2].has_pii is False


def test_bigram_profile_orders_repetitive_below_varied(spark):
    """A source of looping docs (one continuation per hub) profiles
    a lower median NLL than a source taking fresh continuations."""
    rep = [(i, "x c x c x c x c", "en", "rep", 1) for i in range(6)]
    var = [(10 + i, f"x v{i}a x v{i}b x v{i}c x v{i}d", "en", "var", 1)
           for i in range(6)]
    d = spark.createDataFrame(
        rep + var,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r.source: r for r in
           curation.source_bigram_nll_profile(d).collect()}
    assert out["rep"].nll_e4_p50 < out["var"].nll_e4_p50
    assert out["rep"].mean_nll < out["var"].mean_nll
    assert out["rep"].n_docs == 6 and out["var"].n_docs == 6


# ---------------------------------------------------------------------------
# batch 7: filter agreement + review sizing
# ---------------------------------------------------------------------------

NAMES7 = ("quality_rules_venn", "sample_size_calculator")


@pytest.mark.parametrize("name", NAMES7)
def test_parity_batch7(name, spark, duck):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def test_venn_cells_total_and_match_filters(spark):
    out = registry.queries()["quality_rules_venn"](
        spark, SF_ORACLE).collect()
    assert len(out) == 4
    assert sum(r.n_docs for r in out) == 500
    # cell (gopher, c4) = (True, True) count equals the direct
    # conjunction of the two registered filters
    g = {r.doc_id: r.gopher_pass for r in registry.queries()[
        "quality_gopher_rules"](spark, SF_ORACLE).collect()}
    c = {r.doc_id: r.c4_pass for r in registry.queries()[
        "quality_c4_rules"](spark, SF_ORACLE).collect()}
    both = sum(1 for d in g if g[d] and c[d])
    cell = next(r for r in out if r.gopher_pass and r.c4_pass)
    assert cell.n_docs == both


def test_sample_size_tighter_ci_needs_more(spark):
    """n_required is monotone decreasing in half-width, capped by
    the finite-population correction at n_docs."""
    out = registry.queries()["sample_size_calculator"](
        spark, SF_ORACLE).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r.half_width_e6)
        ns = [r.n_required for r in rows]
        assert ns == sorted(ns, reverse=True)
        for r in rows:
            assert r.n_required_fpc <= r.n_required
            assert r.n_required_fpc <= r.n_docs + 1


def test_sample_size_closed_form_hand_case(spark):
    """p = 0.5 maximizes p(1-p): n = ceil(1.96²·0.25/w²)."""
    import math as m
    from selfhealingdatapipeline_gcp_spark.operators.curation import (
        CI_HALF_WIDTHS, ci_coefficient)
    for w in CI_HALF_WIDTHS:
        assert m.ceil(ci_coefficient(w) * 0.25) == m.ceil(
            1.96 ** 2 * 0.25 / w ** 2)


def test_sample_size_degenerate_source_needs_zero(spark):
    """A source whose every doc agrees (p = 0 or 1) needs no review
    sample — n_required = 0 and the FPC stays defined even at
    n_docs = 1 (the 0/0 edge the hypothesis test found)."""
    d = spark.createDataFrame(
        [(0, "tiny", "en", "solo", 1)],      # 1 doc, fails gopher
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    from selfhealingdatapipeline_gcp_spark.operators.curation import (
        sample_size_calculator)
    rows = sample_size_calculator(d).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n_required == 0 and r.n_required_fpc == 0


# ---------------------------------------------------------------------------
# batch 8: unicode hygiene
# ---------------------------------------------------------------------------

def test_parity_unicode_scan(spark, duck):
    q = registry.queries()["unicode_anomaly_scan"]
    sql = registry.oracle_sql()["unicode_anomaly_scan"]
    assert_parity(q(spark, SF_ORACLE), duck, sql)


def test_unicode_scan_planted_anomalies(spark):
    """Planted control / zero-width / replacement / non-ASCII chars
    are counted per class, and the clean source reads all zeros."""
    from selfhealingdatapipeline_gcp_spark.operators.curation import (
        unicode_anomaly_scan)
    d = spark.createDataFrame(
        [(0, "bad\x07text\x1f here", "en", "dirty", 1),
         (1, "invisible​join‍ and ﻿ mark", "en",
          "dirty", 1),
         (2, "decode fail �� twice", "en", "dirty", 1),
         (3, "accent café and euro €", "en", "dirty", 1),
         (4, "perfectly clean ascii", "en", "clean", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r.source: r for r in unicode_anomaly_scan(d).collect()}
    dirty, clean = out["dirty"], out["clean"]
    assert dirty.n_control == 2 and dirty.docs_with_control == 1
    assert dirty.n_zero_width == 3 and dirty.docs_with_zero_width == 1
    assert dirty.n_replacement == 2 and dirty.docs_with_replacement == 1
    # non-ascii counts EVERY non-ascii char incl. zw + replacement
    assert dirty.n_non_ascii == 3 + 2 + 2  # zw(3) + fffd(2) + é,€(2)
    assert dirty.docs_with_non_ascii == 3
    assert clean.n_control == clean.n_zero_width == 0
    assert clean.n_replacement == clean.n_non_ascii == 0
    assert clean.non_ascii_per_mchar == 0
