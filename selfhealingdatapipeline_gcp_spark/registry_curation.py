"""Registry entries for the corpus-curation operators
(operators/curation.py): sub-document exact-substring dedup,
SemDeDup-style semantic pruning, DSIR importance weights, bigram LM
scoring, and the two dedup capacity planners. Oracle SQL mirrors
every hash, floor, and multiplication chain of the Spark
expressions — the S-curve and Bloom constants are generated from the
SAME Python helpers on both sides so the formulas cannot drift."""

from __future__ import annotations

from selfhealingdatapipeline_gcp_spark import catalog
from selfhealingdatapipeline_gcp_spark.operators import curation
from selfhealingdatapipeline_gcp_spark.registry import register
from selfhealingdatapipeline_gcp_spark.registry_data_ops import (  # noqa: F401
    _EMB_NORMED, _K_AUTO, _TOKENS, _dot, _lsh_verified_sql, _md5int)


def _t(spark, sf, *names):
    return [catalog.load(spark, sf, n) for n in names]


# ---------------------------------------------------------------------------
# dedup_substring_spans — sub-document exact dedup (k = 8 tokens)
# ---------------------------------------------------------------------------

register(
    "dedup_substring_spans",
    lambda spark, sf: curation.dedup_substring_spans(
        *_t(spark, sf, "documents")),
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, {_md5int('u.s')} AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                 i -> {{'pos': i - 1,
                        's': array_to_string(t[i:i+7], ' ')}})) AS u
        FROM d WHERE len(t) >= 8
      )
    ), cnt AS (
      SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
    ), dup AS (
      SELECT doc_id, pos FROM sh JOIN cnt USING (h)
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 8
                  THEN 1 ELSE 0 END AS brk
      FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + 7 AS span_end,
           max(pos) - min(pos) + 8 AS span_tokens,
           count(*) AS n_dup_shingles
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
)

# ---------------------------------------------------------------------------
# semdedup_prune — cell-local greedy semantic prune list
# ---------------------------------------------------------------------------

register(
    "semdedup_prune",
    lambda spark, sf: curation.semdedup_prune(*_t(spark, sf, "embeddings")),
    # same cells grid + assignment CTE as dedup_embedding_cells (the
    # fixed-K md5int centroid pick and the floor-e6 argmax), then the
    # min-id greedy prune rule over in-cell pairs
    f"""
    WITH n AS ({_EMB_NORMED}),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT,
               vec_id
      LIMIT {_K_AUTO}
    ), assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT n.vec_id, cents.cent_id,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY CAST(floor({_dot('n.v', 'cv')} / (n.nrm * cnrm)
                               * 1000000) AS BIGINT) DESC,
                          cent_id) AS rn
        FROM n, cents
      ) WHERE rn = 1
    ), pruned AS (
      SELECT DISTINCT y.vec_id
      FROM assign x
      JOIN assign y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
      JOIN n a ON a.vec_id = x.vec_id
      JOIN n b ON b.vec_id = y.vec_id
      WHERE {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) >= 0.35
    )
    SELECT e.vec_id, e.label, (p.vec_id IS NULL) AS kept
    FROM embeddings e LEFT JOIN pruned p ON e.vec_id = p.vec_id
    ORDER BY e.vec_id
    """,
    family="dedup",
)

# ---------------------------------------------------------------------------
# dsir_importance_weights — hashed-unigram importance resampling
# ---------------------------------------------------------------------------

register(
    "dsir_importance_weights",
    lambda spark, sf: curation.dsir_importance_weights(
        *_t(spark, sf, "documents")),
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_TOKENS}) AS w FROM documents
    ), tb AS (
      SELECT doc_id, source, ({_md5int('w')} % 4096) AS b,
             CASE WHEN source = (SELECT min(source) FROM documents)
                  THEN 1 ELSE 0 END AS is_t
      FROM toks
    ), bc AS (
      SELECT b, CAST(sum(is_t) AS BIGINT) AS t_c,
             CAST(count(*) - sum(is_t) AS BIGINT) AS r_c
      FROM tb GROUP BY b
    ), tot AS (
      SELECT CAST(sum(t_c) AS BIGINT) AS t_tot,
             CAST(sum(r_c) AS BIGINT) AS r_tot
      FROM bc
    ), lam AS (
      SELECT b,
             CAST(floor((ln((t_c + 1) / (t_tot + 4096.0))
                         - ln((r_c + 1) / (r_tot + 4096.0))) * 1e6)
                  AS BIGINT) AS lam_micro
      FROM bc, tot
    )
    SELECT doc_id, source, count(*) AS n_tokens,
           (floor(sum(lam_micro) / 100.0) / 1e4) AS dsir_logweight
    FROM tb JOIN lam USING (b)
    GROUP BY doc_id, source
    ORDER BY doc_id
    """,
    family="dataprep",
)

# ---------------------------------------------------------------------------
# text_bigram_logprob — bigram MLE negative log-likelihood
# ---------------------------------------------------------------------------

register(
    "text_bigram_logprob",
    lambda spark, sf: curation.text_bigram_logprob(
        *_t(spark, sf, "documents")),
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), big AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 i -> {{'w1': t[i], 'w2': t[i+1]}})) AS u
        FROM d WHERE len(t) >= 2
      )
    ), uni AS (
      SELECT w1, count(*) AS c1
      FROM (SELECT unnest(t) AS w1 FROM d) GROUP BY w1
    ), bi AS (
      SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
    ), scored AS (
      SELECT doc_id,
             CAST(floor(-ln(c2 / c1) * 1e6) AS BIGINT) AS nll_micro
      FROM big JOIN bi USING (w1, w2) JOIN uni USING (w1)
    )
    SELECT doc_id, count(*) AS n_bigrams,
           (floor(sum(nll_micro) / (count(*) * 100.0)) / 1e4)
             AS avg_neg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)

# ---------------------------------------------------------------------------
# minhash_band_tuning — S-curve over the observed candidate set
# ---------------------------------------------------------------------------


def _band_combo_select(b: int, r: int) -> str:
    p = curation.band_detect_sql("s", b, r)
    n_sim = "sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END)"
    return f"""
      SELECT CAST({b} AS INT) AS bands,
             CAST({r} AS INT) AS rows_per_band,
             count(*) AS n_candidates,
             CAST({n_sim} AS BIGINT) AS n_similar,
             CASE WHEN {n_sim} > 0 THEN
               floor(sum(CASE WHEN s >= 0.5 THEN p_micro ELSE 0 END)
                     / ({n_sim} * 100.0)) / 1e4
             END AS est_recall,
             CASE WHEN count(*) - {n_sim} > 0 THEN
               floor(sum(CASE WHEN s >= 0.5 THEN 0 ELSE p_micro END)
                     / ((count(*) - {n_sim}) * 100.0)) / 1e4
             END AS est_fp_share
      FROM (SELECT s, CAST(floor({p} * 1e6) AS BIGINT) AS p_micro
            FROM ex)
      GROUP BY 1, 2"""


register(
    "minhash_band_tuning",
    lambda spark, sf: curation.minhash_band_tuning(
        *_t(spark, sf, "documents")),
    # pairs = the LSH candidate relation with threshold 0 (all
    # verified candidates); the S-curve SQL is emitted by the SAME
    # repeated-squaring generator the Spark side uses
    f"""
    WITH pairs AS ({_lsh_verified_sql(threshold=0.0)}),
    ex AS (SELECT jaccard AS s FROM pairs)
    SELECT * FROM (
      {" UNION ALL ".join(_band_combo_select(b, r)
                          for b, r in curation.BAND_COMBOS)}
    ) ORDER BY rows_per_band
    """,
    family="dedup",
)

# ---------------------------------------------------------------------------
# bloom_size_advisor — Bloom capacity plan from the exact NDV
# ---------------------------------------------------------------------------

_BLOOM_GRID = ", ".join(
    f"(CAST({p!r} AS DOUBLE), CAST({curation.bloom_constants(p)[0]!r} "
    f"AS DOUBLE), {curation.bloom_constants(p)[1]})"
    for p in curation.BLOOM_FPPS)

register(
    "bloom_size_advisor",
    lambda spark, sf: curation.bloom_size_advisor(
        *_t(spark, sf, "documents")),
    # the bits-per-key coefficient and k are Python-computed double
    # literals inlined IDENTICALLY into both engines (repr round-trip)
    f"""
    WITH nd AS (
      SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n
      FROM documents
    ), grid(fpp, c, k) AS (SELECT * FROM (VALUES {_BLOOM_GRID}))
    SELECT fpp, n AS n_distinct,
           CAST(ceil(n * c) AS BIGINT) AS m_bits,
           CAST(k AS INT) AS k_hashes,
           (floor(CAST(ceil(n * c) AS BIGINT) / 8.0 / 1048576.0 * 100)
            / 100.0) AS m_mib
    FROM nd, grid ORDER BY fpp
    """,
    family="dedup",
)

# ---------------------------------------------------------------------------
# quality_gopher_rules / quality_c4_rules — scan-stage admission filters
# ---------------------------------------------------------------------------

_GOPHER_STOPS = "['the', 'a', 'of', 'and', 'to', 'in', 'is']"

register(
    "quality_gopher_rules",
    lambda spark, sf: curation.quality_gopher_rules(
        *_t(spark, sf, "documents")),
    # every rule is integer cross-multiplication — zero doubles
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n,
             CAST(coalesce(list_sum(list_transform(t, x -> length(x))),
                           0) AS BIGINT) AS chars,
             CAST(len(list_filter(t,
                  x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS alpha,
             CAST(len(list_intersect(list_distinct(t),
                  {_GOPHER_STOPS})) AS BIGINT) AS stops,
             CAST(len(list_filter(t,
                  x -> x = '#' OR contains(x, '...'))) AS BIGINT) AS sym
      FROM d
    )
    SELECT doc_id, n AS n_words, chars AS n_chars_in_words,
           alpha AS n_alpha_words, stops AS n_stop_hits,
           sym AS n_symbol_words,
           (n >= 50 AND n <= 100000) AS pass_word_count,
           (chars >= 3 * n AND chars <= 10 * n) AS pass_mean_word_len,
           (5 * alpha >= 4 * n) AS pass_alpha_share,
           (stops >= 2) AS pass_stopwords,
           (10 * sym <= n) AS pass_symbol_ratio,
           ((n >= 50 AND n <= 100000)
            AND (chars >= 3 * n AND chars <= 10 * n)
            AND (5 * alpha >= 4 * n) AND (stops >= 2)
            AND (10 * sym <= n)) AS gopher_pass
    FROM m ORDER BY doc_id
    """,
)

register(
    "quality_c4_rules",
    lambda spark, sf: curation.quality_c4_rules(
        *_t(spark, sf, "documents")),
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({_TOKENS}) AS BIGINT) AS n,
             CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)
               AS sents,
             regexp_matches(text, '[.!?]$') AS term,
             contains(lower(text), 'lorem ipsum') AS lorem,
             contains(text, '{{') AS brace
      FROM documents
    )
    SELECT doc_id, n AS n_words, sents AS n_sentences,
           term AS ends_terminal, lorem AS has_lorem_ipsum,
           brace AS has_curly_brace,
           (term AND sents >= 3 AND n >= 5
            AND NOT lorem AND NOT brace) AS c4_pass
    FROM m ORDER BY doc_id
    """,
)

# ---------------------------------------------------------------------------
# doc_winnow_fingerprints — MOSS-style winnowing selection (k=4, w=4)
# ---------------------------------------------------------------------------

register(
    "doc_winnow_fingerprints",
    lambda spark, sf: curation.doc_winnow_fingerprints(
        *_t(spark, sf, "documents")),
    # window-min via lexicographic struct min — identical tie rule
    # (smallest hash, then leftmost position) on both engines
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), g AS (
      SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
             {_md5int('u.s')} AS h,
             CAST(len(t) - 3 AS BIGINT) AS ng
      FROM (
        SELECT doc_id, t,
               unnest(list_transform(range(1, len(t) - 2),
                 i -> {{'pos': i - 1,
                        's': array_to_string(t[i:i+3], ' ')}})) AS u
        FROM d WHERE len(t) >= 7
      )
    ), wm AS (
      SELECT doc_id, pos, ng,
             min({{'h': h, 'p': pos}}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
      FROM g
    )
    SELECT DISTINCT doc_id, (m).p AS pos, (m).h AS fp_hash
    FROM wm WHERE pos <= ng - 4
    ORDER BY doc_id, pos
    """,
)

# ---------------------------------------------------------------------------
# semdedup_threshold_sweep — tuning table for semdedup_prune
# ---------------------------------------------------------------------------

register(
    "semdedup_threshold_sweep",
    lambda spark, sf: curation.semdedup_threshold_sweep(
        *_t(spark, sf, "embeddings")),
    # same cells+assign CTEs as semdedup_prune; grid LEFT join +
    # suffix-cumulative window over the 13 fixed rows
    f"""
    WITH n AS ({_EMB_NORMED}),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT,
               vec_id
      LIMIT {_K_AUTO}
    ), assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT n.vec_id, cents.cent_id,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY CAST(floor({_dot('n.v', 'cv')} / (n.nrm * cnrm)
                               * 1000000) AS BIGINT) DESC,
                          cent_id) AS rn
        FROM n, cents
      ) WHERE rn = 1
    ), p AS (
      SELECT y.vec_id AS vec_b,
             CAST(round(round({_dot('a.v', 'b.v')} / (a.nrm * b.nrm), 6)
                        * 1e6) AS BIGINT) AS cos_e6
      FROM assign x
      JOIN assign y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
      JOIN n a ON a.vec_id = x.vec_id
      JOIN n b ON b.vec_id = y.vec_id
      WHERE {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) >= 0.35
    ), pair_b AS (
      SELECT least(CAST(floor((cos_e6 - 350000) / 50000.0) AS BIGINT),
                   12) AS idx,
             count(*) AS np
      FROM p GROUP BY 1
    ), vec_b AS (
      SELECT least(CAST(floor((cos_e6 - 350000) / 50000.0) AS BIGINT),
                   12) AS idx,
             count(*) AS nv
      FROM (SELECT vec_b, max(cos_e6) AS cos_e6 FROM p GROUP BY vec_b)
      GROUP BY 1
    ), total AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total FROM embeddings
    ), grid AS (
      SELECT CAST(u.i AS BIGINT) AS idx,
             CAST(350000 + u.i * 50000 AS BIGINT) AS threshold_e6
      FROM (SELECT unnest(range(0, 13)) AS i) u
    ), j AS (
      SELECT grid.idx, grid.threshold_e6,
             coalesce(np, 0) AS np, coalesce(nv, 0) AS nv
      FROM grid LEFT JOIN pair_b USING (idx) LEFT JOIN vec_b USING (idx)
    )
    SELECT threshold_e6,
           CAST(sum(np) OVER w AS BIGINT) AS n_pairs,
           CAST(sum(nv) OVER w AS BIGINT) AS n_pruned,
           CAST(floor(sum(nv) OVER w * 1e6 / n_total) AS BIGINT)
             AS prune_rate_e6
    FROM j, total
    WINDOW w AS (ORDER BY idx DESC ROWS UNBOUNDED PRECEDING)
    ORDER BY threshold_e6
    """,
    family="dedup",
)

# ---------------------------------------------------------------------------
# corpus scaling-law / concentration statistics
# ---------------------------------------------------------------------------

register(
    "corpus_novelty_curve",
    lambda spark, sf: curation.corpus_novelty_curve(
        *_t(spark, sf, "documents")),
    # bucket ids are pure integer division on BOTH sides (DuckDB //
    # == Spark DIV for non-negative ints); occurrences never explode
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), hi AS (SELECT max(doc_id) + 1 AS hi FROM d),
    db AS (
      SELECT doc_id, t, CAST((doc_id * 10) // hi AS INT) AS bucket
      FROM d, hi
    ), occ AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(greatest(len(t) - 7, 0)) AS BIGINT) AS occ
      FROM db GROUP BY bucket
    ), sh AS (
      SELECT doc_id, {_md5int('u')} AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                 i -> array_to_string(t[i:i+7], ' '))) AS u
        FROM db WHERE len(t) >= 8
      )
    ), fs AS (SELECT min(doc_id) AS fd FROM sh GROUP BY h),
    nw AS (
      SELECT CAST((fd * 10) // hi AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS nnew
      FROM fs, hi GROUP BY 1
    ), grid AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bucket)
    SELECT bucket,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_docs,
           CAST(coalesce(occ, 0) AS BIGINT) AS n_shingle_occurrences,
           CAST(coalesce(nnew, 0) AS BIGINT) AS n_new_shingles,
           CAST(sum(coalesce(nnew, 0)) OVER (
                  ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_new_shingles,
           CASE WHEN coalesce(occ, 0) > 0 THEN
             CAST(floor(coalesce(nnew, 0) * 1e6 / occ) AS BIGINT)
           END AS novelty_rate_e6
    FROM grid LEFT JOIN occ USING (bucket) LEFT JOIN nw USING (bucket)
    ORDER BY bucket
    """,
    family="dedup",
)

register(
    "heaps_law_fit",
    lambda spark, sf: curation.heaps_law_fit(
        *_t(spark, sf, "documents")),
    # the source_zipf_slope OLS discipline: per-checkpoint ln terms
    # floor to e9 ints before the sums; slope_raw is computed ONCE in
    # a subquery and reused by the intercept, exactly as the Spark
    # column expression tree does
    f"""
    WITH d AS (
      SELECT doc_id, source, {_TOKENS} AS t FROM documents
    ), hi AS (SELECT max(doc_id) + 1 AS hi FROM d),
    db AS (
      SELECT doc_id, source, t,
             CAST((doc_id * 10) // hi AS INT) AS bucket
      FROM d, hi
    ), tok AS (
      SELECT source, bucket, CAST(sum(len(t)) AS BIGINT) AS tk
      FROM db GROUP BY 1, 2
    ), fs AS (
      SELECT source, w, min(bucket) AS bucket
      FROM (SELECT source, bucket, unnest(t) AS w FROM db)
      GROUP BY source, w
    ), nw AS (
      SELECT source, bucket, CAST(count(*) AS BIGINT) AS nv
      FROM fs GROUP BY 1, 2
    ), ck AS (
      SELECT source, bucket,
             CAST(sum(tk) OVER w AS BIGINT) AS cn,
             CAST(sum(coalesce(nv, 0)) OVER w AS BIGINT) AS cv
      FROM tok LEFT JOIN nw USING (source, bucket)
      WINDOW w AS (PARTITION BY source ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING)
    ), terms AS (
      SELECT source, cn, cv,
             CAST(floor(ln(cn) * 1000000000.0) AS BIGINT) AS x_e9,
             CAST(floor(ln(cv) * 1000000000.0) AS BIGINT) AS y_e9,
             CAST(floor(ln(cn) * ln(cv) * 1000000000.0) AS BIGINT)
               AS xy_e9,
             CAST(floor(ln(cn) * ln(cn) * 1000000000.0) AS BIGINT)
               AS xx_e9
      FROM ck WHERE cn > 0 AND cv > 0
    ), agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_checkpoints,
             CAST(max(cn) AS BIGINT) AS total_tokens,
             CAST(max(cv) AS BIGINT) AS total_types,
             CAST(sum(x_e9) AS BIGINT) AS sx,
             CAST(sum(y_e9) AS BIGINT) AS sy,
             CAST(sum(xy_e9) AS BIGINT) AS sxy,
             CAST(sum(xx_e9) AS BIGINT) AS sxx
      FROM terms GROUP BY source
    ), fit AS (
      SELECT source, n_checkpoints, total_tokens, total_types,
             sx, sy,
             CASE WHEN (CAST(n_checkpoints AS DOUBLE) * (sxx / 1e9)
                        - (sx / 1e9) * (sx / 1e9)) > 0
                  THEN (CAST(n_checkpoints AS DOUBLE) * (sxy / 1e9)
                        - (sx / 1e9) * (sy / 1e9))
                       / (CAST(n_checkpoints AS DOUBLE) * (sxx / 1e9)
                          - (sx / 1e9) * (sx / 1e9))
                  ELSE 0.0 END AS slope_raw
      FROM agg
    )
    SELECT source, n_checkpoints, total_tokens, total_types,
           (floor(slope_raw * 1000000.0) / 1000000.0)
             AS heaps_exponent,
           (floor((((sy / 1e9) - slope_raw * (sx / 1e9))
                   / CAST(n_checkpoints AS DOUBLE)) * 1000000.0)
            / 1000000.0) AS heaps_intercept
    FROM fit WHERE n_checkpoints >= 3 ORDER BY source
    """,
)

register(
    "token_gini",
    lambda spark, sf: curation.token_gini(*_t(spark, sf, "documents")),
    # Gini numerator is pure integer arithmetic — one double division
    # at the very end; rank deciles via integer division
    f"""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({_TOKENS}) AS w FROM documents) GROUP BY w
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n, w) AS r FROM vocab
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS t_types,
             CAST(sum(n) AS BIGINT) AS t_tokens
      FROM vocab
    ), gini AS (
      SELECT CAST(sum((2 * r - t_types - 1) * n) AS BIGINT) AS gnum
      FROM ranked, tot
    ), dec AS (
      SELECT CAST(((r - 1) * 10) // t_types AS INT) AS decile,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(n) AS BIGINT) AS n_tokens
      FROM ranked, tot GROUP BY 1
    )
    SELECT decile, n_types, n_tokens,
           CAST(floor(sum(n_types) OVER w * 1e6 / t_types) AS BIGINT)
             AS cum_type_share_e6,
           CAST(floor(sum(n_tokens) OVER w * 1e6 / t_tokens) AS BIGINT)
             AS cum_token_share_e6,
           CAST(floor(gnum / (CAST(t_types AS DOUBLE) * t_tokens)
                      * 1e6) AS BIGINT) AS gini_e6
    FROM dec, tot, gini
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    ORDER BY decile
    """,
)

register(
    "doc_length_lorenz",
    lambda spark, sf: curation.doc_length_lorenz(
        *_t(spark, sf, "documents")),
    # the token_histogram bit-length bucket twin, on REAL token
    # counts, plus cumulative Lorenz shares
    f"""
    WITH nt AS (
      SELECT CAST(len({_TOKENS}) AS BIGINT) AS n_tok FROM documents
    ), agg AS (
      SELECT CAST(length(bin(greatest(n_tok, 1))) - 1 AS INT)
               AS log2_bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM nt GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
             CAST(sum(n_tokens) AS BIGINT) AS t_tokens
      FROM agg
    )
    SELECT log2_bucket,
           CAST(1 << log2_bucket AS BIGINT) AS bucket_lo,
           n_docs, n_tokens,
           CAST(floor(sum(n_docs) OVER w * 1e6 / t_docs) AS BIGINT)
             AS cum_doc_share_e6,
           CAST(floor(sum(n_tokens) OVER w * 1e6 / t_tokens)
                AS BIGINT) AS cum_token_share_e6
    FROM agg, tot
    WINDOW w AS (ORDER BY log2_bucket ROWS UNBOUNDED PRECEDING)
    ORDER BY log2_bucket
    """,
)

register(
    "perplexity_ttr_agreement",
    lambda spark, sf: curation.perplexity_ttr_agreement(
        *_t(spark, sf, "documents")),
    # per-doc scores quantize to e2 ints; the Pearson keeps six
    # integer sums and evaluates one closed-form double expression
    f"""
    WITH d AS (
      SELECT doc_id, source, {_TOKENS} AS t FROM documents
    ), d2 AS (SELECT * FROM d WHERE len(t) >= 2),
    big AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 i -> {{'w1': t[i], 'w2': t[i+1]}})) AS u
        FROM d2
      )
    ), uni AS (
      SELECT w1, count(*) AS c1
      FROM (SELECT unnest(t) AS w1 FROM d) GROUP BY w1
    ), bi AS (
      SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
    ), nll AS (
      SELECT doc_id,
             CAST(floor(sum(nll_micro) / (count(*) * 10000.0))
                  AS BIGINT) AS x
      FROM (
        SELECT doc_id,
               CAST(floor(-ln(c2 / c1) * 1e6) AS BIGINT) AS nll_micro
        FROM big JOIN bi USING (w1, w2) JOIN uni USING (w1)
      ) GROUP BY doc_id
    ), ttr AS (
      SELECT doc_id, source,
             CAST(floor(len(list_distinct(t)) * 100.0 / len(t))
                  AS BIGINT) AS y
      FROM d2
    ), agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM ttr JOIN nll USING (doc_id) GROUP BY source
    )
    SELECT source, n_docs,
           CASE WHEN (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
           THEN floor((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n_docs AS DOUBLE)
                              * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE)
                                * CAST(sx AS DOUBLE))
                             * (CAST(n_docs AS DOUBLE)
                                * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE)
                                  * CAST(sy AS DOUBLE)))
                      * 1e6) / 1e6
           END AS pearson_r
    FROM agg ORDER BY source
    """,
)

# ---------------------------------------------------------------------------
# split integrity + epoch scheduling
# ---------------------------------------------------------------------------

_SHINGLES3 = ("list_distinct(list_transform("
              "range(1, greatest(len(t) - 2, 0) + 1), "
              "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))")

register(
    "split_contamination_matrix",
    lambda spark, sf: curation.split_contamination_matrix(
        *_t(spark, sf, "documents")),
    # per-shingle presence flags in ONE groupBy, all three
    # intersections in ONE aggregate, 3 rows via UNION ALL
    f"""
    WITH sp AS (
      SELECT ({_md5int('CAST(doc_id AS VARCHAR)')} % 100) AS b,
             {_SHINGLES3} AS s
      FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
    ), sh AS (
      SELECT b, {_md5int('g')} AS h
      FROM (SELECT b, unnest(s) AS g FROM sp)
    ), flags AS (
      SELECT h,
             max(CASE WHEN b < 10 THEN 1 ELSE 0 END) AS v,
             max(CASE WHEN b >= 10 AND b < 20 THEN 1 ELSE 0 END) AS x,
             max(CASE WHEN b >= 20 THEN 1 ELSE 0 END) AS t
      FROM sh GROUP BY h
    ), w AS (
      SELECT CAST(sum(t) AS BIGINT) AS n_train,
             CAST(sum(v) AS BIGINT) AS n_val,
             CAST(sum(x) AS BIGINT) AS n_test,
             CAST(sum(t * v) AS BIGINT) AS s_tv,
             CAST(sum(t * x) AS BIGINT) AS s_tx,
             CAST(sum(v * x) AS BIGINT) AS s_vx
      FROM flags
    ), long AS (
      SELECT 'train' AS split_a, 'test' AS split_b,
             n_train AS n_shingles_a, n_test AS n_shingles_b,
             s_tx AS n_shared FROM w
      UNION ALL
      SELECT 'train', 'val', n_train, n_val, s_tv FROM w
      UNION ALL
      SELECT 'val', 'test', n_val, n_test, s_vx FROM w
    )
    SELECT split_a, split_b, n_shingles_a, n_shingles_b, n_shared,
           CASE WHEN n_shingles_a + n_shingles_b - n_shared > 0 THEN
             CAST(floor(n_shared * 1e6
                        / (n_shingles_a + n_shingles_b - n_shared))
                  AS BIGINT)
           END AS jaccard_e6
    FROM long ORDER BY split_a, split_b
    """,
    family="dedup",
)

register(
    "epoch_shuffle_plan",
    lambda spark, sf: curation.epoch_shuffle_plan(
        *_t(spark, sf, "documents")),
    # epoch-salted md5 buckets; share within the epoch
    f"""
    WITH per AS (
      SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ), pe AS (
      SELECT doc_id, n_tok, CAST(u.e AS INT) AS epoch
      FROM per, (SELECT unnest(range(0, 3)) AS e) u
    ), pb AS (
      SELECT epoch,
             CAST({_md5int(
                 "CAST(doc_id AS VARCHAR) || ':' || "
                 "CAST(epoch AS VARCHAR)")} % 16 AS INT) AS bucket,
             n_tok
      FROM pe
    ), agg AS (
      SELECT epoch, bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM pb GROUP BY 1, 2
    )
    SELECT epoch, bucket, n_docs, n_tokens,
           CAST(floor(n_docs * 1e6
                      / sum(n_docs) OVER (PARTITION BY epoch))
                AS BIGINT) AS share_e6
    FROM agg ORDER BY epoch, bucket
    """,
    family="dataprep",
)

register(
    "source_bigram_nll_profile",
    lambda spark, sf: curation.source_bigram_nll_profile(
        *_t(spark, sf, "documents")),
    # per-doc e4-integer scores, then quantile_cont (the Spark
    # percentile interpolation twin) + integer-sum mean per source
    f"""
    WITH d AS (
      SELECT doc_id, source, {_TOKENS} AS t FROM documents
    ), d2 AS (SELECT * FROM d WHERE len(t) >= 2),
    big AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 i -> {{'w1': t[i], 'w2': t[i+1]}})) AS u
        FROM d2
      )
    ), uni AS (
      SELECT w1, count(*) AS c1
      FROM (SELECT unnest(t) AS w1 FROM d) GROUP BY w1
    ), bi AS (
      SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
    ), nll AS (
      SELECT doc_id,
             CAST(floor(sum(nll_micro) / (count(*) * 100.0))
                  AS BIGINT) AS nll_e4
      FROM (
        SELECT doc_id,
               CAST(floor(-ln(c2 / c1) * 1e6) AS BIGINT) AS nll_micro
        FROM big JOIN bi USING (w1, w2) JOIN uni USING (w1)
      ) GROUP BY doc_id
    ), per AS (
      SELECT source, nll_e4 FROM d2 JOIN nll USING (doc_id)
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           (floor(quantile_cont(nll_e4, 0.1) * 1000000.0) / 1000000.0)
             AS nll_e4_p10,
           (floor(quantile_cont(nll_e4, 0.5) * 1000000.0) / 1000000.0)
             AS nll_e4_p50,
           (floor(quantile_cont(nll_e4, 0.9) * 1000000.0) / 1000000.0)
             AS nll_e4_p90,
           (floor(CAST(sum(nll_e4) AS BIGINT) / count(*)) / 10000.0)
             AS mean_nll
    FROM per GROUP BY source ORDER BY source
    """,
)


# ---------------------------------------------------------------------------
# filter agreement + review sizing
# ---------------------------------------------------------------------------


def _venn_sql() -> str:
    """Compose the REGISTERED rule oracles verbatim — the cells can
    never drift from the filters they describe."""
    from selfhealingdatapipeline_gcp_spark.registry import _REGISTRY
    g = _REGISTRY["quality_gopher_rules"].oracle
    c = _REGISTRY["quality_c4_rules"].oracle
    return f"""
    WITH g AS (SELECT doc_id, gopher_pass FROM ({g})),
    c AS (SELECT doc_id, c4_pass FROM ({c})),
    j AS (SELECT gopher_pass, c4_pass FROM g JOIN c USING (doc_id)),
    w AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(CASE WHEN gopher_pass AND c4_pass
                 THEN 1 ELSE 0 END) AS BIGINT) AS gg,
        CAST(sum(CASE WHEN gopher_pass AND NOT c4_pass
                 THEN 1 ELSE 0 END) AS BIGINT) AS gx,
        CAST(sum(CASE WHEN NOT gopher_pass AND c4_pass
                 THEN 1 ELSE 0 END) AS BIGINT) AS xg,
        CAST(sum(CASE WHEN NOT gopher_pass AND NOT c4_pass
                 THEN 1 ELSE 0 END) AS BIGINT) AS xx
      FROM j
    ), long AS (
      SELECT true AS gopher_pass, true AS c4_pass, gg AS n_docs,
             n_total FROM w
      UNION ALL
      SELECT true, false, gx, n_total FROM w
      UNION ALL
      SELECT false, true, xg, n_total FROM w
      UNION ALL
      SELECT false, false, xx, n_total FROM w
    )
    SELECT gopher_pass, c4_pass, n_docs,
           CAST(floor(n_docs * 1e6 / n_total) AS BIGINT) AS share_e6
    FROM long ORDER BY gopher_pass DESC, c4_pass DESC
    """


register(
    "quality_rules_venn",
    lambda spark, sf: curation.quality_rules_venn(
        *_t(spark, sf, "documents")),
    _venn_sql(),
)


def _sample_size_sql() -> str:
    from selfhealingdatapipeline_gcp_spark.registry import _REGISTRY
    g = _REGISTRY["quality_gopher_rules"].oracle
    return f"""
    WITH g AS (SELECT doc_id, gopher_pass FROM ({g})),
    per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pass
      FROM documents JOIN g USING (doc_id) GROUP BY source
    ), grid(half_width_e6, c) AS (SELECT * FROM (VALUES (CAST(10000 AS BIGINT), CAST(38416.0 AS DOUBLE)), (CAST(20000 AS BIGINT), CAST(9604.0 AS DOUBLE)), (CAST(50000 AS BIGINT), CAST(1536.6399999999996 AS DOUBLE))))
    SELECT source, n_docs, n_pass,
           CAST(floor(n_pass * 1e6 / n_docs) AS BIGINT)
             AS pass_rate_e6,
           half_width_e6,
           CAST(ceil(c * (CAST(n_pass AS DOUBLE) / n_docs)
                     * (1 - CAST(n_pass AS DOUBLE) / n_docs))
                AS BIGINT) AS n_required,
           CASE WHEN CAST(ceil(c * (CAST(n_pass AS DOUBLE) / n_docs)
                          * (1 - CAST(n_pass AS DOUBLE) / n_docs))
                     AS BIGINT) > 0 THEN
             CAST(ceil(CAST(CAST(ceil(c * (CAST(n_pass AS DOUBLE) / n_docs)
                            * (1 - CAST(n_pass AS DOUBLE) / n_docs))
                       AS BIGINT) AS DOUBLE)
                  / (1 + (CAST(ceil(c * (CAST(n_pass AS DOUBLE) / n_docs)
                               * (1 - CAST(n_pass AS DOUBLE) / n_docs))
                          AS BIGINT) - 1) / CAST(n_docs AS DOUBLE)))
                  AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS n_required_fpc
    FROM per, grid ORDER BY source, half_width_e6
    """


register(
    "sample_size_calculator",
    lambda spark, sf: curation.sample_size_calculator(
        *_t(spark, sf, "documents")),
    _sample_size_sql(),
)


register(
    "unicode_anomaly_scan",
    lambda spark, sf: curation.unicode_anomaly_scan(
        *_t(spark, sf, "documents")),
    # same character classes, RE2 escape spelling
    r"""
    WITH agg AS (
      SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]'))) AS BIGINT) AS n_control,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_control,
           CAST(sum(len(regexp_extract_all(text, '[\x{200B}-\x{200D}\x{FEFF}]'))) AS BIGINT) AS n_zero_width,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '[\x{200B}-\x{200D}\x{FEFF}]')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_zero_width,
           CAST(sum(len(regexp_extract_all(text, '\x{FFFD}'))) AS BIGINT) AS n_replacement,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '\x{FFFD}')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_replacement,
           CAST(sum(len(regexp_extract_all(text, '[^\x00-\x7F]'))) AS BIGINT) AS n_non_ascii,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '[^\x00-\x7F]')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_non_ascii
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_chars, n_control, docs_with_control, n_zero_width, docs_with_zero_width, n_replacement, docs_with_replacement, n_non_ascii, docs_with_non_ascii,
           CASE WHEN n_chars > 0 THEN
             CAST(floor(n_non_ascii * 1e6 / n_chars) AS BIGINT)
           END AS non_ascii_per_mchar
    FROM agg ORDER BY source
    """,
)
