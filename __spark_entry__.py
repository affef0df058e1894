"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: full extraction pipeline over transcripts constructed
              natively from the sf0.001 documents table.
``queries`` — one entry per implemented operator (SURVEY.md §2 driver-query
              tags + the training-data-pipeline operators).
``oracle_sql`` — DuckDB-equivalent ANSI SQL per query.  The extraction
              oracles derive results INDEPENDENTLY of the engine kernel
              (word-geometry arithmetic, not shared code).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ocr_mini_service_spark.kernel import DESCENDER_REGEX
from ocr_mini_service_spark.operators import (
    asof,
    boilerplate,
    convo,
    corpus,
    dedup,
    multimodal,
    pdf,
    similarity,
    sketches,
    text,
    tpch,
    transcribe,
    web,
)
from ocr_mini_service_spark.operators.dedup import BASE, MINHASH_AB, MOD
from ocr_mini_service_spark.operators.similarity import B_BANDS, K_CAP, R_BITS, plane_params
from ocr_mini_service_spark.operators.text import BPE_ISH, DE_STOPWORDS, EN_STOPWORDS, FP_BASE, FP_MOD


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ocr_mini_service_spark.pipeline import extract_fused, finalize

    transcripts = transcribe.build_transcripts(spark, "/root/testdata/sf0.001")
    return finalize(extract_fused(transcripts))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's CORRECTNESS gate checks the FIRST 50
    # entries in dict order per round.  STANDING RULE (VERDICT r3 item 1):
    # queries that have never earned a driver row go FIRST, then queries whose
    # code or oracle changed this round, then the least-recently-checked
    # stalwarts as window filler; everything green in the previous round's
    # window rotates to the back.
    #
    # R5 WINDOW (executed per VERDICT r4 item 1): positions 1-40 are the 40
    # never-driver-checked entries pinned by the r4 fronting list (all
    # strict-parity green); positions 41-50 hold new r5 additions first,
    # then the least-recently-checked r2-era stalwarts as filler.
    return {
        # --- never checked: r4 overflow (pure-integer/string projections) ---
        "token_surprisal": corpus.token_surprisal,
        "source_cap": corpus.source_cap,
        "curriculum_stages": corpus.curriculum_stages,
        "url_canonicalize": web.url_canonicalize,
        "domain_stats": web.domain_stats,
        "text_normalize": corpus.text_normalize,
        "extract_spans": transcribe.extract_spans,
        "shard_stats": corpus.shard_stats,
        "packed_doc_spans": corpus.packed_doc_spans,
        "seqlen_buckets": corpus.seqlen_buckets,
        # --- never checked: r4 session-8 transcript-curation signals ---
        "conv_prefix_containment": convo.conv_prefix_containment,
        "conv_fork_points": convo.conv_fork_points,
        "turn_dedup_xconv": convo.turn_dedup_xconv,
        "role_sequence_audit": convo.role_sequence_audit,
        "context_budget": convo.context_budget,
        "assistant_echo": convo.assistant_echo,
        "reply_latency": convo.reply_latency,
        "tool_turn_stats": convo.tool_turn_stats,
        "transcript_funnel": convo.transcript_funnel,
        # --- never checked: r4 session-9 preference mining + SFT packing ---
        "fork_preference_pairs": convo.fork_preference_pairs,
        "preference_pair_stats": convo.preference_pair_stats,
        "sft_pack_conversations": convo.sft_pack_conversations,
        # --- never checked: late-r4 jusText rungs + PQ/IVFADC ANN family ---
        "justext_blocks": boilerplate.justext_blocks,
        "justext_strip": boilerplate.justext_strip,
        "pq_encode": similarity.pq_encode,
        "ann_pq_topk": similarity.ann_pq_topk,
        "ann_pq_recall": similarity.ann_pq_recall,
        "ivfadc_encode": similarity.ivfadc_encode,
        "ann_ivfadc_topk": similarity.ann_ivfadc_topk,
        "ann_ivfadc_recall": similarity.ann_ivfadc_recall,
        "quality_rung_agreement": corpus.quality_rung_agreement,
        # --- never checked: r4 session-9 ensemble extractor + codec grid +
        # topic segmentation ---
        "ensemble_blocks": boilerplate.ensemble_blocks,
        "ensemble_strip": boilerplate.ensemble_strip,
        "ensemble_strip_spans": boilerplate.ensemble_strip_spans,
        "codec_grid_parity": multimodal.codec_grid_parity,
        "conv_topic_segments": convo.conv_topic_segments,
        # --- never checked: r4 session-10 transcript hygiene + crawl diff ---
        "secret_scan": convo.secret_scan,
        "continuation_stitch": convo.continuation_stitch,
        "conv_stitch_apply": convo.conv_stitch_apply,
        "crawl_frontier_diff": web.crawl_frontier_diff,
        # === positions 41-50: new r5 queries first, then the least-recently
        # === checked stalwarts (last green r2) as window filler
        # --- new in r5: the PDF tier composed with the curation stages
        # (extract -> quality gate on extracted text -> exact dedup of it,
        # ONE kernel evaluation, republication overlay) ---
        "pdf_extraction_funnel": pdf.pdf_extraction_funnel,
        # --- new in r5: transcript credit assignment, tool-use transitions,
        # T5 span-corruption sampling, per-source dataset card ---
        "turn_credit_decay": convo.turn_credit_decay,
        "tool_transition_matrix": convo.tool_transition_matrix,
        "span_corruption_masks": corpus.span_corruption_masks,
        "corpus_report": corpus.corpus_report,
        # --- new in r5 (second wave): score calibration, batch planning,
        # split leakage, contrastive collisions, vocabulary growth ---
        "quality_calibration": corpus.quality_calibration,
        "length_quality_matrix": corpus.length_quality_matrix,
        "split_leakage_audit": corpus.split_leakage_audit,
        "inbatch_collision_audit": similarity.inbatch_collision_audit,
        "ngram_novelty_curve": corpus.ngram_novelty_curve,
        # === the 50-query window closes here (40 never-checked + 10 new r5
        # === queries); the r2-era stalwarts below keep their r2 rows
        "topk_orders": tpch.topk_orders,
        "min_by_supplier": tpch.min_by_supplier,
        "union_by_name": tpch.union_by_name,
        "scalar_sampler": tpch.scalar_sampler,
        "from_json_events": tpch.from_json_events,
        "unbase64_roundtrip": tpch.unbase64_roundtrip,
        "hash_key_lineitem": tpch.hash_key_lineitem,
        "baseline_conditional": tpch.baseline_conditional,
        "join_two_branches": tpch.join_two_branches,
        "admission_filter": tpch.admission_filter,
        # --- green in the r4 window — rotate back ---------------------------
        "density_blocks": boilerplate.density_blocks,
        "extractor_agreement": boilerplate.extractor_agreement,
        "conv_decontaminate": convo.conv_decontaminate,
        "pdf_extract": pdf.pdf_extract,
        "pdf_line_spans": pdf.pdf_line_spans,
        "semdedup_prune": similarity.semdedup_prune,
        "dsir_weights": corpus.dsir_weights,
        "ann_hard_negatives": similarity.ann_hard_negatives,
        "tokenizer_fertility": corpus.tokenizer_fertility,
        "url_dedup": web.url_dedup,
        "domain_policy": web.domain_policy,
        "perplexity_buckets": corpus.perplexity_buckets,
        "pagerank_step": web.pagerank_step,
        "video_features": multimodal.video_features,
        "cms_heavy_audit": sketches.cms_heavy_audit,
        "hll_distinct_audit": sketches.hll_distinct_audit,
        "quantile_sketch_audit": sketches.quantile_sketch_audit,
        "skew_salted_join": sketches.skew_salted_join,
        "quality_weighted_sample": corpus.quality_weighted_sample,
        "mixture_rebalance": corpus.mixture_rebalance,
        "audio_features": multimodal.audio_features,
        "curation_incremental": corpus.curation_incremental,
        "source_token_drift": corpus.source_token_drift,
        "dedup_cluster_stats": dedup.dedup_cluster_stats,
        "thumbnail_dedup": multimodal.thumbnail_dedup,
        "bpe_pair_counts": corpus.bpe_pair_counts,
        "source_leakage_matrix": corpus.source_leakage_matrix,
        "extraction_funnel": transcribe.extraction_funnel,
        "lsh_jaccard_verify": dedup.lsh_jaccard_verify,
        "curation_funnel_v3": dedup.curation_funnel_v3,
        "token_rarity": corpus.token_rarity,
        "retention_cohorts": tpch.retention_cohorts,
        "minhash_jaccard_estimate": dedup.minhash_jaccard_estimate,
        "substring_dupes": dedup.substring_dupes,
        "inverted_index": corpus.inverted_index,
        "event_outliers": tpch.event_outliers,
        "media_resize": multimodal.media_resize,
        "frame_sample": multimodal.frame_sample,
        "winnowing_fingerprints": dedup.winnowing_fingerprints,
        "quality_classifier": corpus.quality_classifier,
        "embedding_hygiene": similarity.embedding_hygiene,
        "fast_parity": dedup.fast_parity,
        "substring_dupes_fast": dedup.substring_dupes_fast,
        "bloom_decon_audit": corpus.bloom_decon_audit,
        "ann_recall_audit": similarity.ann_recall_audit,
        "normalized_dedup": corpus.normalized_dedup,
        "minhash_band_sweep": dedup.minhash_band_sweep,
        "dedup_family_agreement": dedup.dedup_family_agreement,
        "curation_funnel_v2": boilerplate.curation_funnel_v2,
        "curation_funnel": corpus.curation_funnel,
        # --- least recently checked stalwarts not promoted to the window ----
        "to_json_assembly": tpch.to_json_assembly,
        "lang_id": text.lang_id,
        "quality_score": text.quality_score,
        "token_count": text.token_count,
        "doc_fingerprint": text.doc_fingerprint,
        "value_percentiles": tpch.value_percentiles,
        "map_headers": tpch.map_headers,
        "repetition_stats": corpus.repetition_stats,
        "heavy_hitters": corpus.heavy_hitters,
        "tfidf_topterms": corpus.tfidf_topterms,
        "sample_split": corpus.sample_split,
        "stratified_sample": corpus.stratified_sample,
        "pii_redact": corpus.pii_redact,
        "chunk_documents": corpus.chunk_documents,
        "pack_shards": corpus.pack_shards,
        "source_mixture": corpus.source_mixture,
        "mixture_stats": corpus.mixture_stats,
        "ngram_lm_counts": corpus.ngram_lm_counts,
        # ------------- green in the r3 window — rotate back ------------------
        # dedup production variants (seeded xxhash64, JVM-side end to end):
        # their data plane is value-checked by fast_parity /
        # substring_dupes_fast INSIDE the window; the raw signature/pair
        # outputs would only earn a rows-only check (the hash VALUES are
        # engine-specific by construction, and band recall differs
        # legitimately between hash families — see the fast_parity
        # docstring), so they sit below the cut rather than spend window
        # slots on no_oracle rows
        "minhash_signatures_fast": dedup.minhash_signatures_fast,
        "lsh_candidate_pairs_fast": dedup.lsh_candidate_pairs_fast,
        "simhash_docs_fast": dedup.simhash_docs_fast,
        # per-doc bloom verdicts: values are hash-family-specific (same class
        # as the _fast variants above); the aggregate containment property is
        # value-oracled IN-window by bloom_decon_audit
        "bloom_decontaminate": corpus.bloom_decontaminate,
        "broadcast_region_customers": tpch.broadcast_region_customers,
        "anti_join_quiet_orders": tpch.anti_join_quiet_orders,
        "window_rownum_orders": tpch.window_rownum_orders,
        "session_gap_events": tpch.session_gap_events,
        "boilerplate_blocks": boilerplate.boilerplate_blocks,
        "boilerplate_strip": boilerplate.boilerplate_strip,
        "vocab_coverage": corpus.vocab_coverage,
        "tokenize_ids": corpus.tokenize_ids,
        "gopher_rules": corpus.gopher_rules,
        "dedup_exact": dedup.dedup_exact,
        "minhash_signatures": dedup.minhash_signatures,
        "lsh_candidate_pairs": dedup.lsh_candidate_pairs,
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "simhash_docs": dedup.simhash_docs,
        "dedup_clusters": dedup.dedup_clusters,
        "lsh_drop_stats": dedup.lsh_drop_stats,
        "dedup_incremental": dedup.dedup_incremental,
        "dedup_survivors": dedup.dedup_survivors,
        "array_stats": similarity.array_stats,
        "ann_bruteforce_topk": similarity.ann_bruteforce_topk,
        "ann_lsh_buckets": similarity.ann_lsh_buckets,
        "ann_ivf_topk": similarity.ann_ivf_topk,
        "embedding_cosine_dups": similarity.embedding_cosine_dups,
        "label_centroids": similarity.label_centroids,
        "kmeans_step": similarity.kmeans_step,
        "lsh_bucket_stats": similarity.lsh_bucket_stats,
        "semantic_decontaminate": similarity.semantic_decontaminate,
        "media_meta_sql": multimodal.media_meta_sql,
        "pivot_event_matrix": tpch.pivot_event_matrix,
        "hierarchy_lines": transcribe.hierarchy_lines,
        "hierarchy_parents": transcribe.hierarchy_parents,
        "range_join_events": asof.range_join_events,
        "asof_join_events": asof.asof_join_events,
        "extract_fulltext": transcribe.extract_fulltext,
        "extract_word_boxes": transcribe.extract_word_boxes,
        "extract_metrics_by_source": transcribe.extract_metrics_by_source,
        "loss_mask_spans": transcribe.loss_mask_spans,
        "conversation_stats": transcribe.conversation_stats,
        "decontaminate": corpus.decontaminate,
        "line_dedup": corpus.line_dedup,
        "q1_pricing_summary": tpch.q1_pricing_summary,
        "overlap_anti_join_geometric": tpch.overlap_anti_join_geometric,
        "rollup_lineitem": tpch.rollup_lineitem,
        "ordered_agg_lineitems": tpch.ordered_agg_lineitems,
        "window_hourly_events": tpch.window_hourly_events,
    }


# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# synthetic-DOM block classification (mirrors operators/boilerplate.py: the
# deterministic anchor-word rule, exact basis-point densities, and the
# Boilerpipe NumWordsRulesClassifier decision — constants imported so Spark
# and oracle can never drift)
from ocr_mini_service_spark.operators.boilerplate import (
    BLOCK_WORDS as _BW,
    CURR_LINK_BP_MAX as _CLB,
    CURR_WORDS_A as _CWA,
    CURR_WORDS_B as _CWB,
    LINK_MOD as _LM,
    NEXT_WORDS_A as _NWA,
    NEXT_WORDS_B as _NWB,
    PREV_LINK_BP_LOW as _PLB,
    PREV_WORDS_A as _PWA,
    WRAP_COLS as _WC,
    DENS_CURR_A as _DCA,
    DENS_CTX_A as _DXA,
    DENS_CURR_B as _DCB,
    JT_STOPWORDS as _JTS,
    JT_MAX_LINK_BP as _JML,
    JT_LEN_LOW as _JLL,
    JT_LEN_HIGH as _JLH,
    JT_STOP_LOW_BP as _JSL,
    JT_STOP_HIGH_BP as _JSH,
)

# the shared word-grid -> block CTEs (every boilerplate-family oracle
# starts here; kept separate so the ensemble oracle can compose BOTH rung
# chains after one copy of the block derivation)
_WB_CTES = f"""
ws AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
blocks AS (
    SELECT doc_id,
           CAST((s - 1) // {_BW} AS INT) AS block_idx,
           list_slice(w, s, s + {_BW - 1}) AS bw
    FROM ws, unnest(generate_series(1, len(w), {_BW})) AS t(s))"""

_BOILER_TAIL = f"""
feats AS (
    SELECT doc_id, block_idx,
           array_to_string(bw, ' ') AS block_text,
           CAST(len(bw) AS INT) AS n_words,
           CAST(len(list_filter(generate_series(1, len(bw)),
                j -> (doc_id * 31 + block_idx * 7 + j) % {_LM} = 0)) AS INT) AS n_links
    FROM blocks),
ctx AS (
    SELECT doc_id, block_idx, block_text, n_words, n_links,
           CAST((n_links * 10000) // n_words AS BIGINT) AS link_bp,
           CAST((n_words * 100) // greatest(
               (length(block_text) + {_WC - 1}) // {_WC}, 1) AS BIGINT) AS text_density_x100,
           CAST(COALESCE(LAG(n_words) OVER w, 0) AS INT) AS prev_words,
           CAST(COALESCE(LEAD(n_words) OVER w, 0) AS INT) AS next_words,
           CAST(COALESCE(LAG((n_links * 10000) // n_words) OVER w, 0) AS BIGINT) AS prev_link_bp,
           CAST(COALESCE(LAG((n_words * 100) // greatest(
               (length(block_text) + {_WC - 1}) // {_WC}, 1)) OVER w, 0) AS BIGINT) AS prev_density_x100,
           CAST(COALESCE(LEAD((n_words * 100) // greatest(
               (length(block_text) + {_WC - 1}) // {_WC}, 1)) OVER w, 0) AS BIGINT) AS next_density_x100
    FROM feats
    WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)),
cls AS (
    SELECT doc_id, block_idx, block_text, n_words, n_links, link_bp,
           text_density_x100, prev_words, next_words,
           prev_density_x100, next_density_x100,
           CAST(CASE WHEN link_bp > {_CLB} THEN FALSE
                WHEN prev_link_bp <= {_PLB}
                     THEN (n_words > {_CWA} OR next_words > {_NWA} OR prev_words > {_PWA})
                ELSE (n_words > {_CWB} OR next_words > {_NWB}) END AS INT) AS is_content,
           CAST(CASE WHEN link_bp > {_CLB} THEN FALSE
                WHEN prev_link_bp <= {_PLB}
                     THEN (text_density_x100 > {_DCA}
                           OR (prev_density_x100 > {_DXA} AND next_density_x100 > {_DXA}))
                ELSE text_density_x100 > {_DCB} END AS INT) AS is_content_density
    FROM ctx)"""

_BOILER_CTES = _WB_CTES + "," + _BOILER_TAIL

# jusText rung (mirrors operators/boilerplate.py _justext_classified: the
# context-free stopword/length/link ladder, then the symmetric
# context-sensitive relabel via nearest context-free good/bad neighbours)
_JT_SW_SQL = ", ".join(f"'{s}'" for s in _JTS)
_JT_TAIL = f"""
jf AS (
    SELECT doc_id, block_idx,
           array_to_string(bw, ' ') AS block_text,
           CAST(len(bw) AS INT) AS n_words,
           CAST(length(array_to_string(bw, ' ')) AS INT) AS n_chars,
           CAST((len(list_filter(generate_series(1, len(bw)),
                j -> (doc_id * 31 + block_idx * 7 + j) % {_LM} = 0)) * 10000)
                // len(bw) AS BIGINT) AS link_bp,
           CAST((len(list_filter(bw, x -> x IN ({_JT_SW_SQL}))) * 10000)
                // len(bw) AS BIGINT) AS stop_bp
    FROM blocks),
jcf AS (
    SELECT *, CASE
        WHEN link_bp > {_JML} THEN 'bad'
        WHEN n_chars < {_JLL} THEN
             CASE WHEN link_bp > 0 THEN 'bad' ELSE 'short' END
        WHEN stop_bp >= {_JSH} THEN
             CASE WHEN n_chars > {_JLH} THEN 'good' ELSE 'neargood' END
        WHEN stop_bp >= {_JSL} THEN 'neargood'
        ELSE 'bad' END AS cf_class
    FROM jf),
jctx AS (
    SELECT *,
           COALESCE(LAST_VALUE(CASE WHEN cf_class IN ('good','bad')
                                    THEN cf_class END IGNORE NULLS)
               OVER wp, 'bad') AS prev_gb,
           COALESCE(FIRST_VALUE(CASE WHEN cf_class IN ('good','bad')
                                     THEN cf_class END IGNORE NULLS)
               OVER wn, 'bad') AS next_gb,
           COALESCE(LAST_VALUE(CASE WHEN cf_class <> 'short'
                                    THEN cf_class END IGNORE NULLS)
               OVER wp, 'bad') AS prev_any,
           COALESCE(FIRST_VALUE(CASE WHEN cf_class <> 'short'
                                     THEN cf_class END IGNORE NULLS)
               OVER wn, 'bad') AS next_any
    FROM jcf
    WINDOW wp AS (PARTITION BY doc_id ORDER BY block_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wn AS (PARTITION BY doc_id ORDER BY block_idx
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
jfinal AS (
    SELECT *, CASE
        WHEN cf_class IN ('good','bad') THEN cf_class
        WHEN cf_class = 'neargood' THEN
             CASE WHEN prev_gb = 'bad' AND next_gb = 'bad'
                  THEN 'bad' ELSE 'good' END
        WHEN prev_gb = next_gb THEN prev_gb
        WHEN prev_gb = 'bad' AND prev_any = 'neargood' THEN 'good'
        WHEN next_gb = 'bad' AND next_any = 'neargood' THEN 'good'
        ELSE 'bad' END AS final_class
    FROM jctx)"""

_JT_CTES = _WB_CTES + "," + _JT_TAIL

# majority-vote ensemble over the three rungs: one block derivation, both
# rung chains, votes joined on the (doc_id, block_idx) grid
_ENS_CTES = (
    _WB_CTES
    + ","
    + _BOILER_TAIL
    + ","
    + _JT_TAIL
    + f""",
ens AS (
    SELECT c.doc_id, c.block_idx, j.block_text, j.n_words, j.link_bp,
           c.is_content AS vote_rules,
           c.is_content_density AS vote_density,
           CAST(j.final_class = 'good' AS INT) AS vote_justext
    FROM cls c JOIN jfinal j USING (doc_id, block_idx))"""
)

def _pq_qdist_sql(a: str, b: str, n: str = str(similarity.PQ_SUB)) -> str:
    """Exact quantized-integer squared L2 between two list columns as a SQL
    fragment (mirrors similarity._qdist_fold / _pair_qdist)."""
    qa = f"CAST(round(CAST({a}[i] AS DOUBLE) * 1000) AS BIGINT)"
    qb = f"CAST(round(CAST({b}[i] AS DOUBLE) * 1000) AS BIGINT)"
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {n}), "
        f"i -> ({qa} - {qb}) * ({qa} - {qb}))) AS BIGINT)"
    )


# product quantization (mirrors operators/similarity.py PQ_M/PQ_SUB/PQ_K:
# subvector slices, the deterministic seed codebook, nearest-code assignment
# with the (d, code) tiebreak)
_PQ_CTES = f"""
subs AS (
    SELECT vec_id, CAST(m AS INT) AS subspace,
           list_slice(embedding, m * {similarity.PQ_SUB} + 1,
                      (m + 1) * {similarity.PQ_SUB}) AS sub
    FROM embeddings, unnest(generate_series(0, {similarity.PQ_M - 1})) AS t(m)),
cb AS (
    SELECT subspace, vec_id AS code, sub AS csub
    FROM subs WHERE vec_id < {similarity.PQ_K}),
assign AS (
    SELECT s.vec_id, s.subspace, c.code,
           {_pq_qdist_sql('s.sub', 'c.csub', str(similarity.PQ_SUB))} AS d
    FROM subs s JOIN cb c USING (subspace)),
best AS (
    SELECT vec_id, subspace, code, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                              ORDER BY d ASC, code ASC) AS rn
    FROM assign)"""

def _iqdist_sql(a: str, b: str, n: str) -> str:
    """Exact squared L2 between two ALREADY-INTEGER list columns as a SQL
    fragment (mirrors similarity._iqdist_fold)."""
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {n}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


# IVFADC (mirrors operators/similarity.py: quantize, coarse-assign with the
# (d, cid) tiebreak, integer residuals, the seed-band residual codebook, and
# per-subspace nearest-code assignment with the (d, code) tiebreak)
_IVFADC_CTES = f"""
qv AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
    FROM embeddings),
cent AS (SELECT vec_id AS cid, qv AS cqv FROM qv WHERE vec_id < {similarity.N_CENTROIDS}),
cassign AS (
    SELECT v.vec_id, v.qv, c.cid, c.cqv,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY {_iqdist_sql('v.qv', 'c.cqv', 'len(v.qv)')} ASC,
                        c.cid ASC) AS rn
    FROM qv v CROSS JOIN cent c),
res AS (
    SELECT vec_id, cid,
           list_transform(generate_series(1, len(qv)), i -> qv[i] - cqv[i]) AS r
    FROM cassign WHERE rn = 1),
rcb AS (
    SELECT CAST(m AS INT) AS subspace,
           vec_id - {similarity.IVFADC_CB_LO} AS code,
           list_slice(r, m * {similarity.PQ_SUB} + 1,
                      (m + 1) * {similarity.PQ_SUB}) AS csub
    FROM res, unnest(generate_series(0, {similarity.PQ_M - 1})) AS t(m)
    WHERE vec_id >= {similarity.IVFADC_CB_LO}
      AND vec_id < {similarity.IVFADC_CB_LO + similarity.PQ_K}),
rsubs AS (
    SELECT vec_id, cid, CAST(m AS INT) AS subspace,
           list_slice(r, m * {similarity.PQ_SUB} + 1,
                      (m + 1) * {similarity.PQ_SUB}) AS sub
    FROM res, unnest(generate_series(0, {similarity.PQ_M - 1})) AS t(m)),
rassign AS (
    SELECT s.vec_id, s.cid, s.subspace, c.code,
           {_iqdist_sql('s.sub', 'c.csub', str(similarity.PQ_SUB))} AS d,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
               ORDER BY {_iqdist_sql('s.sub', 'c.csub', str(similarity.PQ_SUB))} ASC,
                        c.code ASC) AS rn
    FROM rsubs s JOIN rcb c USING (subspace)),
renc AS (SELECT vec_id, cid, subspace, code, d FROM rassign WHERE rn = 1)"""

_IVFADC_ADIST = f"""
probe AS (
    SELECT query_id, cid,
           list_transform(generate_series(1, len(qqv)), i -> qqv[i] - ccqv[i]) AS rq
    FROM (
        SELECT v.vec_id AS query_id, c.cid, v.qv AS qqv, c.cqv AS ccqv,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_iqdist_sql('v.qv', 'c.cqv', 'len(v.qv)')} ASC,
                            c.cid ASC) AS rn
        FROM qv v CROSS JOIN cent c
        WHERE v.vec_id < {similarity.N_QUERIES}) t
    WHERE rn <= {similarity.N_PROBE}),
psubs AS (
    SELECT query_id, cid, CAST(m AS INT) AS subspace,
           list_slice(rq, m * {similarity.PQ_SUB} + 1,
                      (m + 1) * {similarity.PQ_SUB}) AS sub
    FROM probe, unnest(generate_series(0, {similarity.PQ_M - 1})) AS t(m)),
dtab AS (
    SELECT s.query_id, s.cid, s.subspace, c.code,
           {_iqdist_sql('s.sub', 'c.csub', str(similarity.PQ_SUB))} AS dpart
    FROM psubs s JOIN rcb c USING (subspace)),
adist AS (
    SELECT d.query_id, e.vec_id, CAST(SUM(d.dpart) AS BIGINT) AS adist
    FROM renc e
    JOIN dtab d ON d.cid = e.cid AND d.subspace = e.subspace AND d.code = e.code
    WHERE e.vec_id <> d.query_id
    GROUP BY d.query_id, e.vec_id)"""

# embeddings ∪ deterministic near-dup mutants (must mirror
# similarity._vecs_with_mutants exactly) and their quantized squared norms —
# shared by the embedding_cosine_dups / semantic_decontaminate /
# lsh_bucket_stats oracles so the overlay rule can never drift between them
_VEC_CORPUS = """
corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(generate_series(1, len(embedding)),
                          i -> CAST(embedding[i] AS DOUBLE)
                               + CASE WHEN i = 1 THEN 0.01 ELSE 0 END) AS embedding
    FROM embeddings WHERE vec_id % 3 = 1
)"""

_VEC_NORMS = """
norms AS (
    SELECT vec_id, embedding,
           CAST(list_sum(list_transform(generate_series(1, len(embedding)),
                    i -> CAST(round(embedding[i] * 1000) AS BIGINT)
                       * CAST(round(embedding[i] * 1000) AS BIGINT))) AS BIGINT) AS n2
    FROM corpus
)"""

# corpus-with-mutants (must mirror dedup._docs_with_mutants exactly)
_CORPUS = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 13) AS text
    FROM documents WHERE (doc_id + 1000000) % 3 = 1
)"""

# per-doc word shingles + rolling hash (mirrors dedup._shingles/_hash_one:
# list_reduce starts with the first element, matching fold-from-0 because
# 0*BASE + c1 = c1)
_SHINGLE_HASHES = f"""
shingled AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(len(ws) - 2, 0)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           ) AS shingles
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus)
),
hashed AS (
    SELECT doc_id,
           list_transform(
               shingles,
               s -> list_reduce(
                   list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
                   (acc, c) -> (acc * {BASE} + c) % {MOD}
               )
           ) AS sh
    FROM shingled
)"""

# MinHash-LSH candidate pairs as reusable CTEs (consumed standalone by
# lsh_candidate_pairs and as the edge list of dedup_clusters' recursive
# connected-components closure); mirrors dedup._lsh_buckets/_lsh_pairs
# including the DEDUP_CAP hot-bucket guard (ROW_NUMBER <= cap ≡ sorted slice)
from ocr_mini_service_spark.operators.dedup import DEDUP_CAP as _DEDUP_CAP

_LSH_PAIR_CTES = f"""
sigs AS (
    SELECT doc_id,
           {", ".join(f"list_min(list_transform(sh, h -> (h * {a} + {b}) % {MOD})) AS m{i}" for i, (a, b) in enumerate(MINHASH_AB))}
    FROM hashed WHERE len(sh) > 0),
bands AS (
    SELECT doc_id, 0 AS band_id, m0 AS h1, m1 AS h2 FROM sigs
    UNION ALL
    SELECT doc_id, 1 AS band_id, m2 AS h1, m3 AS h2 FROM sigs),
ranked AS (
    SELECT doc_id, band_id, h1, h2,
           ROW_NUMBER() OVER (PARTITION BY band_id, h1, h2 ORDER BY doc_id) AS rn
    FROM bands),
capped AS (SELECT doc_id, band_id, h1, h2 FROM ranked WHERE rn <= {_DEDUP_CAP}),
lsh_pairs AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM capped l JOIN capped r
      ON l.band_id = r.band_id AND l.h1 = r.h1 AND l.h2 = r.h2 AND l.doc_id < r.doc_id)"""

# connected components over the candidate-pair graph as a recursive min-label
# transitive closure (the component minimum reaches every member); shared by
# dedup_clusters (full membership) and dedup_survivors (canonical-only)
_CC_CTES = """
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
    UNION ALL
    SELECT doc_b AS s, doc_a AS d FROM lsh_pairs),
cc(id, label) AS (
    SELECT doc_id, doc_id FROM corpus
    UNION
    SELECT e.d, cc.label FROM cc JOIN edges e ON e.s = cc.id WHERE cc.label < e.d
),
final AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM final GROUP BY cluster_id)"""


def _band_sweep_sql() -> str:
    """Banding-sweep oracle (mirrors dedup.minhash_band_sweep): for every
    (n_bands, rows_per_band) arrangement of the 4-hash budget, rebuild the
    banded buckets from the portable sigs, cap each bucket at DEDUP_CAP
    lowest doc_ids (ROW_NUMBER ≡ sorted slice), pair within-bucket, and
    aggregate pair volume + signature agreement as exact integers."""
    from ocr_mini_service_spark.operators.dedup import BAND_SWEEP, n_match_sql

    ctes, rows = [], []
    for nb, r in BAND_SWEEP:
        tag = f"{nb}_{r}"
        band_sel = "\n    UNION ALL\n    ".join(
            f"SELECT doc_id, {t} AS band_id, concat_ws(':', "
            + ", ".join(f"m{t * r + j}" for j in range(r))
            + ") AS bk FROM sigs"
            for t in range(nb)
        )
        ctes.append(f"""
bands_{tag} AS (
    {band_sel}),
capped_{tag} AS (
    SELECT doc_id, band_id, bk FROM (
        SELECT doc_id, band_id, bk,
               ROW_NUMBER() OVER (PARTITION BY band_id, bk ORDER BY doc_id) AS rn
        FROM bands_{tag}) WHERE rn <= {_DEDUP_CAP}),
pairs_{tag} AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM capped_{tag} l JOIN capped_{tag} r
      ON l.band_id = r.band_id AND l.bk = r.bk AND l.doc_id < r.doc_id),
stats_{tag} AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM({n_match_sql("a.m", "b.m")}), 0) AS BIGINT) AS sum_match
    FROM pairs_{tag} p
    JOIN sigs a ON a.doc_id = p.doc_a
    JOIN sigs b ON b.doc_id = p.doc_b)""")
        rows.append(
            f"SELECT '{nb}x{r}' AS scheme, CAST({nb} AS INT) AS n_bands, "
            f"CAST({r} AS INT) AS rows_per_band, n_pairs, sum_match, "
            f"CAST(CASE WHEN n_pairs = 0 THEN 0 ELSE (sum_match * 10000) "
            f"// ({len(MINHASH_AB)} * n_pairs) END AS BIGINT) AS mean_est_jaccard_bp "
            f"FROM stats_{tag}"
        )
    return (
        f"WITH {_CORPUS}, {_SHINGLE_HASHES},\nsigs AS (\n    SELECT doc_id,\n           "
        + ", ".join(
            f"list_min(list_transform(sh, h -> (h * {a} + {b}) % {MOD})) AS m{i}"
            for i, (a, b) in enumerate(MINHASH_AB)
        )
        + " FROM hashed WHERE len(sh) > 0),"
        + ",".join(ctes)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(rows)
        + "\n) ORDER BY scheme"
    )


# ---- banded sign-LSH SQL generation (mirrors similarity._tag_bands:
# plane p component i = ((i*a_p + b_p) mod 97) - 48, band t owns planes
# [t*R_BITS, (t+1)*R_BITS), bucket id = Σ 2^j over non-negative plane dots) --


def _sql_plane_dot(p: int, cast_double: bool) -> str:
    a, b = plane_params(p)
    x = "CAST(embedding[i] AS DOUBLE)" if cast_double else "embedding[i]"
    return (
        f"list_sum(list_transform(generate_series(1, len(embedding)), "
        f"i -> CAST(round({x} * 1000) AS BIGINT) * (((i-1) * {a} + {b}) % 97 - 48)))"
    )


def _sql_band_bucket(t: int, cast_double: bool) -> str:
    terms = [
        f"{2**j} * (CASE WHEN {_sql_plane_dot(t * R_BITS + j, cast_double)} >= 0 "
        f"THEN 1 ELSE 0 END)"
        for j in range(R_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


def _sql_bands_cte(source: str, cast_double: bool) -> str:
    """tagged + unpivoted (vec_id, band, bucket) rows over ``source``."""
    buckets = ",\n           ".join(
        f"{_sql_band_bucket(t, cast_double)} AS b{t}" for t in range(B_BANDS)
    )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {t} AS band, b{t} AS bucket FROM tagged_b"
        for t in range(B_BANDS)
    )
    return f"""
tagged_b AS (
    SELECT vec_id,
           {buckets}
    FROM {source}),
bands AS (
    {unions})"""


# word geometry of the constructed transcripts (mirrors
# transcribe.build_transcripts: first 40 whitespace-normalized words,
# col=p%10, line=p//10, left=col*100, top=100+line*100, w=90, h=20,
# conf=50+p%50, page 1000x1000; doc_id%5=0 carries a code rect y=[175,275]
# that overlaps exactly line 1)
_EXTRACT_WORDS = f"""
ws AS (
    SELECT doc_id,
           list_slice(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '), 1, 40) AS w
    FROM documents
),
pos AS (
    SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS p FROM ws
),
geom AS (
    SELECT doc_id, word, p,
           p % 10 AS col, p // 10 AS line,
           (p % 10) * 100 AS left_px, 100 + (p // 10) * 100 AS top_px,
           50 + p % 50 AS conf_raw,
           regexp_matches(lower(word), '{DESCENDER_REGEX}') AS has_desc
    FROM pos WHERE word <> ''
),
kept AS (
    SELECT * FROM geom
    WHERE NOT (doc_id % 5 = 0 AND line = 1)
)"""


_SUBSTRING_DUPES_SQL = f"""
WITH {_CORPUS},
w AS (
    SELECT doc_id, i AS pos, substr(text, i, {dedup.WIN_W}) AS win
    FROM corpus, unnest(generate_series(1, len(text) - {dedup.WIN_W - 1}, {dedup.WIN_S})) AS t(i)
    WHERE len(text) >= {dedup.WIN_W}),
wd AS (SELECT DISTINCT win, doc_id FROM w),
wc AS (SELECT win, COUNT(*) AS n_docs FROM wd GROUP BY win)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(MIN(CASE WHEN n_docs >= 2 THEN pos END) AS BIGINT) AS first_shared_pos
FROM w JOIN wc USING (win)
GROUP BY doc_id ORDER BY doc_id"""


# multi-turn conversation construction (operators/convo.py module docstring):
# n(c) = 2 + c%3 turns; every 5th conversation retries its predecessor (pure
# resume for c%10==4, last-turn regeneration for c%10==9); turn_text = first
# TURN_WORDS normalized words of the resolved source document; bucket = first
# md5 byte of conv:turn:turn_text.  The oracle re-derives all of it from
# documents with arithmetic + the same proven word-split idiom.
_CONVO_BUCKET = (
    "CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', conv_id, turn_idx, turn_text)), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(concat_ws(':', conv_id, turn_idx, turn_text)), 2, 1)) - 1) AS INT)"
)
_CONVO = f"""
cv AS (
    SELECT DISTINCT doc_id // {convo.TURNS_PER_CONV} AS conv_id FROM documents),
cdom AS (
    SELECT conv_id, CAST({convo.CONV_MIN_TURNS} + conv_id % 3 AS INT) AS nt, CAST(t AS INT) AS turn_idx
    FROM cv, unnest(generate_series(0, CAST({convo.CONV_MIN_TURNS - 1} + conv_id % 3 AS BIGINT))) AS g(t)),
cres AS (
    SELECT conv_id, turn_idx,
           CASE WHEN conv_id % 5 = 4 AND NOT (conv_id % 10 = 9 AND turn_idx = nt - 1)
                THEN (conv_id - 1) * {convo.TURNS_PER_CONV} + turn_idx
                ELSE conv_id * {convo.TURNS_PER_CONV} + turn_idx END AS src_doc
    FROM cdom),
cturns AS (
    SELECT conv_id, turn_idx,
           CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           array_to_string(list_slice(
               string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
               1, {convo.TURN_WORDS}), ' ') AS turn_text
    FROM cres JOIN documents ON documents.doc_id = cres.src_doc),
ctb AS (
    SELECT conv_id, turn_idx, role, turn_text, {_CONVO_BUCKET} AS bucket
    FROM cturns)"""

# truncation overlay over ctb (operators/convo._stitch_overlay's oracle twin)
# — ONE definition shared by the continuation_stitch and conv_stitch_apply
# oracles, mirroring the Spark side's factoring, so the overlay rule cannot
# drift between the audit and the transform
_STITCH_CTES = f"""
cut AS (
    SELECT conv_id, turn_idx, role,
           CASE WHEN role = 'assistant' AND bucket % {convo.TRUNC_MOD} = 0
                THEN array_to_string(list_slice(string_split(turn_text, ' '),
                     1, bucket % {convo.TRUNC_WORDS_MOD} + {convo.TRUNC_MIN_WORDS}), ' ')
                ELSE turn_text END AS txt1,
           (role = 'assistant' AND bucket % {convo.TRUNC_MOD} = 0) AS src
    FROM ctb),
ov AS (
    SELECT conv_id, turn_idx, role,
           CASE WHEN role = 'user' AND COALESCE(lag(src) OVER cw, FALSE)
                THEN 'continue' ELSE txt1 END AS txt2
    FROM cut WINDOW cw AS (PARTITION BY conv_id ORDER BY turn_idx))"""


def _hxb(i: int) -> str:
    """DuckDB expression for byte ``i`` of a sha256 digest exposed as the hex
    string column ``hx`` (the media stub tiers derive their deterministic
    fake features from digest bytes; hashlib digest[i] == these hex pairs)."""
    return (
        f"((instr('0123456789abcdef', substr(hx, {2 * i + 1}, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr(hx, {2 * i + 2}, 1)) - 1))"
    )


def _qual_sc_ctes(cols: str = "") -> str:
    """The quality-score CTE chain (ws → st → sig → sc): ``sc(doc_id{cols},
    quality_score)`` re-deriving ``corpus._quality_score`` independently.
    ``cols`` is a passthrough column list (e.g. ``", text"``) carried to sc.
    Shared by quality_classifier / quality_weighted_sample / domain_policy."""
    return f"""ws AS (
    SELECT doc_id{cols}, text AS _qtext,
           string_split_regex(trim(text), '\\s+') AS w FROM documents),
st AS (
    SELECT doc_id{cols},
           CAST(len(w) AS INT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
           CAST(length(regexp_extract_all(lower(_qtext), '{EN_STOPWORDS}')) AS INT) AS n_stop
    FROM ws),
sig AS (
    SELECT doc_id{cols}, n_words,
           (sum_len * 100) // n_words AS mean_wlen_x100,
           (n_distinct * 10000) // n_words AS distinct_bp,
           n_stop
    FROM st),
sc AS (
    SELECT doc_id{cols},
           CAST(CASE WHEN n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
                THEN {corpus.QUAL_W_WORDS} ELSE 0 END
              + CASE WHEN mean_wlen_x100 BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
                THEN {corpus.QUAL_W_MLEN} ELSE 0 END
              + CASE WHEN distinct_bp >= {corpus.GOPHER_DISTINCT_MIN_BP}
                THEN {corpus.QUAL_W_DISTINCT} ELSE 0 END
              + CASE WHEN n_stop >= {corpus.GOPHER_STOP_MIN}
                THEN {corpus.QUAL_W_STOPFLAG} ELSE 0 END
              + least(n_stop, {corpus.QUAL_STOP_CAP}) AS BIGINT) AS quality_score
    FROM sig)"""


def oracle_sql() -> dict[str, str]:
    return {
        # ---------------- PDF / layout parsing ------------------------------
        # the oracle recomputes the EXPECTED extraction independently from
        # documents.text (reading order restores original word order; the
        # geometry below mirrors pdf.py's generator constants) — the Spark
        # side earns equality only by actually parsing the synthesized files
        "pdf_extract": """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws,
         6 + CAST(doc_id % 5 AS INT) AS k
  FROM documents),
l AS (
  SELECT doc_id, k, len(ws) AS n,
         CAST((len(ws) + k - 1) // k AS INT) AS n_lines,
         list_transform(generate_series(1, CAST((len(ws) + k - 1) // k AS INT)),
            i -> array_to_string(ws[(i-1)*k+1 : least(i*k, len(ws))], ' ')) AS lines
  FROM w)
SELECT doc_id,
       array_to_string(lines, chr(10)) AS extracted_text,
       CAST(greatest((n_lines + 95) // 96, 1) AS INT) AS n_pages,
       n_lines,
       CAST(2 * greatest((n_lines + 95) // 96, 1) AS INT) AS n_runs_dropped,
       CAST(length(array_to_string(lines, chr(10))) AS INT) AS n_chars,
       CAST(NULL AS VARCHAR) AS error
FROM l ORDER BY doc_id""",
        "pdf_line_spans": """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws,
         6 + CAST(doc_id % 5 AS INT) AS k
  FROM documents),
l AS (
  SELECT doc_id,
         CAST((len(ws) + k - 1) // k AS INT) AS n_lines,
         list_transform(generate_series(1, CAST((len(ws) + k - 1) // k AS INT)),
            i -> array_to_string(ws[(i-1)*k+1 : least(i*k, len(ws))], ' ')) AS lines
  FROM w),
e AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS line_idx, lines[t.i] AS line_text
  FROM l, unnest(generate_series(1, n_lines)) AS t(i)),
s AS (
  SELECT doc_id, line_idx, line_text,
         SUM(length(line_text)) OVER (PARTITION BY doc_id ORDER BY line_idx
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM e)
SELECT doc_id, line_idx,
       CAST(line_idx // 96 AS INT) AS page,
       CAST((line_idx % 96) // 48 AS INT) AS col,
       CAST(CASE WHEN (line_idx % 96) // 48 = 0 THEN 50 ELSE 320 END AS INT) AS x,
       CAST(720 - 14 * (line_idx % 48) AS INT) AS y,
       CAST(cum - length(line_text) + line_idx AS INT) AS char_start,
       CAST(cum + line_idx AS INT) AS char_end,
       line_text
FROM s ORDER BY doc_id, line_idx""",
        # the PDF funnel oracle re-derives the extraction independently from
        # documents.text (same derivation as pdf_extract's oracle, over the
        # republication overlay), then re-states the gate + dedup stages as
        # per-row flags — the Spark side earns equality only by parsing the
        # synthesized files and collapsing identical extractions
        "pdf_extraction_funnel": f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {pdf.PDFF_REPUB_OFF} AS doc_id, text FROM documents
  WHERE doc_id % {pdf.PDFF_REPUB_MOD} = 0),
w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws,
         6 + CAST(doc_id % 5 AS INT) AS k
  FROM base),
l AS (
  SELECT doc_id,
         array_to_string(list_transform(
            generate_series(1, CAST((len(ws) + k - 1) // k AS INT)),
            i -> array_to_string(ws[(i-1)*k+1 : least(i*k, len(ws))], ' ')),
            chr(10)) AS et
  FROM w),
sig AS (
  SELECT doc_id, et,
         len(string_split_regex(trim(et), '\\s+')) AS n_words,
         (len(list_distinct(string_split_regex(trim(et), '\\s+'))) * 10000)
             // len(string_split_regex(trim(et), '\\s+')) AS distinct_bp
  FROM l),
fl AS (
  SELECT (n_words >= {pdf.PDFF_MIN_WORDS}
          AND distinct_bp >= {pdf.PDFF_DISTINCT_MIN_BP}) AS q,
         doc_id = MIN(doc_id) OVER (PARTITION BY et) AS canon
  FROM sig),
a2 AS (
  SELECT COUNT(*) AS s0,
         CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN q AND canon THEN 1 ELSE 0 END) AS BIGINT) AS s2
  FROM fl)
SELECT 0 AS stage_idx, 'raw' AS stage, s0 AS n_docs FROM a2
UNION ALL SELECT 1, 'quality', s1 FROM a2
UNION ALL SELECT 2, 'dedup', s2 FROM a2
-- the oracle EXPECTS zero parse failures; a kernel regression makes the
-- Spark side's count non-zero and the driver hash rejects it loudly
UNION ALL SELECT 3, 'parse_errors', CAST(0 AS BIGINT) FROM a2
ORDER BY stage_idx""",
        # ---------------- r5: credit decay / tool transitions / span
        # corruption / dataset card --------------------------------------
        "turn_credit_decay": f"""
WITH {_CONVO},
tn AS (
  SELECT ctb.*, CAST({convo.CONV_MIN_TURNS} + conv_id % 3 AS INT) AS nt FROM ctb),
rw AS (
  SELECT conv_id,
         CAST({convo.CREDIT_BASE} + MAX(CASE WHEN turn_idx = nt - 1 THEN bucket END)
              AS BIGINT) AS reward
  FROM tn GROUP BY conv_id)
SELECT t.conv_id, t.turn_idx, t.role, rw.reward,
       CAST(rw.reward // (1 << (t.nt - 1 - t.turn_idx)) AS BIGINT) AS credit
FROM tn t JOIN rw USING (conv_id)
ORDER BY conv_id, turn_idx""",
        "tool_transition_matrix": f"""
WITH {_CONVO},
lb AS (
  SELECT conv_id, turn_idx,
         {list(convo.TOOL_NAMES)!r}[CAST(bucket % 5 AS INT) + 1] AS tool
  FROM ctb),
pr AS (
  SELECT conv_id,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS tool_from,
         tool AS tool_to
  FROM lb)
SELECT tool_from, tool_to, COUNT(*) AS n_pairs,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM pr WHERE tool_from IS NOT NULL
GROUP BY tool_from, tool_to ORDER BY tool_from, tool_to""",
        "span_corruption_masks": f"""
WITH w AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
  FROM documents),
wins AS (
  SELECT doc_id, n_tokens, CAST(j AS INT) AS span_idx,
         CAST(least({corpus.CORRUPT_WIN}, n_tokens - j * {corpus.CORRUPT_WIN}) AS INT) AS m
  FROM w, unnest(generate_series(0,
       CAST((n_tokens - 1) // {corpus.CORRUPT_WIN} AS BIGINT))) AS t(j))
SELECT doc_id, span_idx, n_tokens,
       CAST(span_idx * {corpus.CORRUPT_WIN}
            + (doc_id * 31 + span_idx * 7) % (m - 2) AS INT) AS tok_start,
       CAST(1 + (doc_id + span_idx) % 3 AS INT) AS tok_len
FROM wins WHERE m >= {corpus.CORRUPT_MIN}
ORDER BY doc_id, span_idx""",
        "corpus_report": f"""
WITH base0 AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + {corpus.REPORT_REPUB_OFF} AS doc_id, text, lang, source
  FROM documents WHERE doc_id % {corpus.REPORT_REPUB_MOD} = 0),
ws AS (
  SELECT doc_id, lang, source, text AS _qtext,
         string_split_regex(trim(text), '\\s+') AS w FROM base0),
st AS (
  SELECT doc_id, lang, source, _qtext,
         CAST(len(w) AS INT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         CAST(length(regexp_extract_all(lower(_qtext), '{EN_STOPWORDS}')) AS INT) AS n_stop
  FROM ws),
sig AS (
  SELECT doc_id, lang, source, _qtext, n_words,
         (sum_len * 100) // n_words AS mean_wlen_x100,
         (n_distinct * 10000) // n_words AS distinct_bp,
         n_stop
  FROM st),
sc AS (
  SELECT lang, source, md5(_qtext) AS ck, CAST(n_words AS BIGINT) AS n_toks,
         CAST(CASE WHEN n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
              THEN {corpus.QUAL_W_WORDS} ELSE 0 END
            + CASE WHEN mean_wlen_x100 BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
              THEN {corpus.QUAL_W_MLEN} ELSE 0 END
            + CASE WHEN distinct_bp >= {corpus.GOPHER_DISTINCT_MIN_BP}
              THEN {corpus.QUAL_W_DISTINCT} ELSE 0 END
            + CASE WHEN n_stop >= {corpus.GOPHER_STOP_MIN}
              THEN {corpus.QUAL_W_STOPFLAG} ELSE 0 END
            + least(n_stop, {corpus.QUAL_STOP_CAP}) AS BIGINT) AS q
  FROM sig)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(MIN(n_toks) AS BIGINT) AS min_tokens,
       CAST(MAX(n_toks) AS BIGINT) AS max_tokens,
       CAST((SUM(q) * 100) // COUNT(*) AS BIGINT) AS mean_quality_x100,
       CAST(((COUNT(*) - COUNT(DISTINCT ck)) * 10000) // COUNT(*) AS BIGINT) AS dup_bp,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM sc GROUP BY source ORDER BY source""",
        "quality_calibration": f"""
WITH {_qual_sc_ctes()},
pf AS (
  SELECT sc.quality_score AS score,
         CASE WHEN sig.n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
               AND sig.mean_wlen_x100 BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
               AND sig.distinct_bp >= {corpus.GOPHER_DISTINCT_MIN_BP}
               AND sig.n_stop >= {corpus.GOPHER_STOP_MIN} THEN 1 ELSE 0 END AS p
  FROM sc JOIN sig USING (doc_id))
SELECT score, COUNT(*) AS n_docs, CAST(SUM(p) AS BIGINT) AS n_pass,
       CAST((SUM(p) * 10000) // COUNT(*) AS BIGINT) AS pass_bp
FROM pf GROUP BY score ORDER BY score""",
        "length_quality_matrix": f"""
WITH {_qual_sc_ctes()},
m AS (
  SELECT CAST(length(printf('%b', sig.n_words)) - 1 AS INT) AS len_bucket,
         sc.quality_score AS score,
         CAST(sig.n_words AS BIGINT) AS n_toks
  FROM sc JOIN sig USING (doc_id) WHERE sig.n_words > 0)
SELECT len_bucket,
       CASE WHEN score < {corpus.QUAL_ACCEPT} THEN 'reject'
            WHEN score < {corpus.QUAL_PREMIUM} THEN 'accept'
            ELSE 'premium' END AS tier,
       COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
FROM m GROUP BY 1, 2 ORDER BY len_bucket, tier""",
        "split_leakage_audit": f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {corpus.REPORT_REPUB_OFF} AS doc_id, text FROM documents
  WHERE doc_id % {corpus.REPORT_REPUB_MOD} = 0),
lab AS (
  SELECT doc_id, text,
         CASE WHEN bucket < {corpus.TRAIN_UPTO} THEN 'train'
              WHEN bucket < {corpus.VAL_UPTO} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, text,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
              AS INT) AS bucket
    FROM base) t),
w AS (SELECT doc_id, split, string_split_regex(trim(text), '\\s+') AS ws FROM lab),
g AS (
  SELECT DISTINCT doc_id, split,
         array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
  FROM w, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
pres AS (
  SELECT gram,
         MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
         MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS va,
         MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te
  FROM g GROUP BY gram),
sh AS (
  SELECT CAST(SUM(tr * va) AS BIGINT) AS g_tv,
         CAST(SUM(tr * te) AS BIGINT) AS g_tt,
         CAST(SUM(va * te) AS BIGINT) AS g_vt
  FROM pres),
cont AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM g
  WHERE split = 'test' AND gram IN (SELECT gram FROM g WHERE split = 'train'))
SELECT 'grams_train_val' AS metric, g_tv AS n FROM sh
UNION ALL SELECT 'grams_train_test', g_tt FROM sh
UNION ALL SELECT 'grams_val_test', g_vt FROM sh
UNION ALL SELECT 'test_docs_contaminated_by_train', n FROM cont
ORDER BY metric""",
        "inbatch_collision_audit": f"""
WITH v AS (SELECT vec_id // {similarity.IN_BATCH} AS batch, label FROM embeddings),
kl AS (SELECT batch, label, COUNT(*) AS k FROM v GROUP BY batch, label)
SELECT batch, CAST(SUM(k) AS BIGINT) AS n_vecs,
       CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS n_collisions
FROM kl GROUP BY batch ORDER BY batch""",
        "ngram_novelty_curve": f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(ws, i, i + {corpus.NOVELTY_N - 1}), ' ') AS gram
  FROM w, unnest(generate_series(1, greatest(len(ws) - {corpus.NOVELTY_N - 1}, 0))) AS t(i)),
f AS (SELECT gram, MIN(doc_id) AS fd FROM g GROUP BY gram),
mx AS (SELECT MAX(doc_id) + 1 AS mx FROM documents),
d AS (SELECT CAST(fd * 10 // mx AS INT) AS decile FROM f, mx),
c AS (SELECT decile, COUNT(*) AS n_new_grams FROM d GROUP BY decile)
SELECT decile, n_new_grams,
       CAST(SUM(n_new_grams) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_grams
FROM c ORDER BY decile""",
        # ---------------- SemDeDup / DSIR / hard negatives / fertility ------
        "semdedup_prune": f"""
WITH {_VEC_CORPUS}, {_VEC_NORMS},
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM corpus
         WHERE vec_id < {similarity.N_CENTROIDS}),
dist AS (
  SELECT c.vec_id, cent.cid,
         CAST(list_sum(list_transform(generate_series(1, len(c.embedding)),
              i -> (CAST(round(c.embedding[i]*1000) AS BIGINT)
                    - CAST(round(cent.cemb[i]*1000) AS BIGINT))
                 * (CAST(round(c.embedding[i]*1000) AS BIGINT)
                    - CAST(round(cent.cemb[i]*1000) AS BIGINT)))) AS BIGINT) AS d
  FROM corpus c CROSS JOIN cent),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dist) t
  WHERE rn = 1),
capped AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id ASC) AS crn
    FROM assigned) t
  WHERE crn <= {similarity.SEMDEDUP_CAP}),
pairs AS (
  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
  FROM capped a JOIN capped b ON a.cid = b.cid AND a.vec_id < b.vec_id),
scored AS (
  SELECT p.cid, p.va, p.vb,
         round(CAST(list_sum(list_transform(generate_series(1, len(na.embedding)),
              i -> CAST(round(na.embedding[i]*1000) AS BIGINT)
                 * CAST(round(nb.embedding[i]*1000) AS BIGINT))) AS BIGINT)
              / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos
  FROM pairs p JOIN norms na ON p.va = na.vec_id JOIN norms nb ON p.vb = nb.vec_id),
dups AS (SELECT * FROM scored WHERE cos >= {similarity.SEMDEDUP_COS}),
nbr AS (
  SELECT vec_id, CAST(COUNT(*) AS INT) AS n_tau_nbrs,
         CAST(MAX(smaller) AS INT) AS pruned
  FROM (SELECT va AS vec_id, 0 AS smaller FROM dups
        UNION ALL SELECT vb AS vec_id, 1 AS smaller FROM dups) u
  GROUP BY vec_id),
sz AS (SELECT cid, CAST(COUNT(*) AS INT) AS cluster_n FROM assigned GROUP BY cid)
SELECT a.vec_id, a.cid, sz.cluster_n,
       COALESCE(nbr.n_tau_nbrs, 0) AS n_tau_nbrs,
       COALESCE(nbr.pruned, 0) AS pruned
FROM assigned a JOIN sz USING (cid) LEFT JOIN nbr ON a.vec_id = nbr.vec_id
ORDER BY a.vec_id""",
        "ann_hard_negatives": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < {similarity.N_QUERIES}),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
           CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                    i -> CAST(round(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.label <> q.qlabel)
SELECT query_id, rank, neighbor_id, neg_label, score FROM (
    SELECT query_id, neighbor_id, neg_label, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored) t
WHERE rank <= {similarity.TOP_K} ORDER BY query_id, rank""",
        "dsir_weights": f"""
WITH wd AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents),
occ AS (
  SELECT doc_id,
         CAST(list_reduce(list_transform(generate_series(1, length(bg)),
                  i -> CAST(ascii(bg[i]) AS BIGINT)),
              (acc, c) -> (acc * {BASE} + c) % {MOD}) % {corpus.DSIR_BUCKETS}
              AS INT) AS bucket
  FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        FROM wd, unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2)),
cnt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS r_b,
               CAST(COUNT(*) FILTER (WHERE doc_id % {corpus.DSIR_TARGET_MOD} = 0)
                    AS BIGINT) AS t_b
        FROM occ GROUP BY bucket),
tot AS (SELECT CAST(SUM(r_b) AS BIGINT) AS r_tot,
               CAST(SUM(t_b) AS BIGINT) AS t_tot FROM cnt),
wt AS (SELECT bucket,
              CAST(length(printf('%b', (r_tot + {corpus.DSIR_BUCKETS}) // (r_b + 1)))
                 - length(printf('%b', (t_tot + {corpus.DSIR_BUCKETS}) // (t_b + 1)))
                 AS BIGINT) AS w
       FROM cnt, tot),
per AS (SELECT occ.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
               CAST(SUM(w) AS BIGINT) AS w_sum
        FROM occ JOIN wt USING (bucket) GROUP BY occ.doc_id)
SELECT doc_id, n_bigrams, w_sum, CAST(w_sum > 0 AS INT) AS keep
FROM per ORDER BY doc_id""",
        "tokenizer_fertility": f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_words,
         CAST(SUM(len(regexp_extract_all(text, '{text.BPE_ISH}'))) AS BIGINT) AS n_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY source)
SELECT source, n_docs, n_words, n_tokens, n_chars,
       n_tokens * 10000 // n_words AS fertility_bp,
       n_chars * 10000 // n_tokens AS chars_per_token_bp
FROM per ORDER BY source""",
        # ---------------- perplexity tiers + per-key cap --------------------
        # surprisal is floor(log2(n1/n12)) == length(bin/printf('%b')) - 1 of
        # the integer quotient (exact, no libm); terciles via the histogram
        # cumulative trick; the cap oracle is the plain window the Spark side
        # deliberately avoids running corpus-wide
        "perplexity_buckets": f"""
WITH wd AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents),
occ AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
    FROM wd, unnest(generate_series(1, len(w) - 1)) AS t(i)
    WHERE len(w) >= 2),
n12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM occ GROUP BY w1, w2),
n1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM n12 GROUP BY w1),
bits AS (
    SELECT n12.w1, n12.w2, length(printf('%b', n1 // n12)) - 1 AS bits
    FROM n12 JOIN n1 ON n12.w1 = n1.w1),
pd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS sum_bits
    FROM occ JOIN bits USING (w1, w2) GROUP BY doc_id),
scored AS (
    SELECT doc_id, n_bigrams,
           CAST((sum_bits * 100) // n_bigrams AS BIGINT) AS ppl_c FROM pd),
hist AS (SELECT ppl_c, COUNT(*) AS n_docs FROM scored GROUP BY ppl_c),
cuts AS (
    SELECT ppl_c,
           CAST(COALESCE(SUM(n_docs) OVER (ORDER BY ppl_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS below,
           (SELECT COUNT(*) FROM scored) AS n_total
    FROM hist)
SELECT s.doc_id, s.n_bigrams, s.ppl_c,
       ({list(corpus.PPL_STAGES)!r}[(least((c.below * 3) // c.n_total, 2) + 1)::INT])
           AS bucket
FROM scored s JOIN cuts c USING (ppl_c)
ORDER BY s.doc_id""",
        "source_cap": f"""
WITH pr AS (
    SELECT source, doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || ':cap'), 1, 8))::BIGINT AS prio
    FROM documents),
rk AS (
    SELECT source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY prio, doc_id)
               AS cap_rank
    FROM pr)
SELECT source, doc_id, CAST(cap_rank AS INT) AS cap_rank
FROM rk WHERE cap_rank <= {corpus.CAP_K} ORDER BY source, cap_rank""",
        # ---------------- web provenance ------------------------------------
        # the oracle re-derives the synthetic URL from documents md5 bytes and
        # re-canonicalizes with RE2 + list ops (web.URL_CTES / web.PR_CTES)
        "url_dedup": f"""
WITH {web.URL_CTES},
keep AS (
    SELECT canon_url, CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id
    FROM web_urls GROUP BY canon_url)
SELECT u.doc_id, u.canon_url, k.kept_doc_id,
       CAST(u.doc_id != k.kept_doc_id AS INT) AS is_dup
FROM web_urls u JOIN keep k USING (canon_url)
ORDER BY u.doc_id""",
        "crawl_frontier_diff": f"""
WITH {web.URL_CTES},
ub2 AS (
    SELECT canon_url, domain, {web.base_id_sql()} AS base_id
    FROM web_urls),
rws AS (
    SELECT canon_url, domain, ub2.base_id % {web.FRONTIER_MOD} AS m9,
           md5(d.text) AS fp, md5(d.text || ':v2') AS fp2,
           md5(d.text || ':new') AS fpn
    FROM ub2 JOIN documents d ON d.doc_id = ub2.base_id),
fa AS (
    SELECT canon_url, MIN(fp) AS fp_a, MIN(domain) AS dom_a
    FROM rws GROUP BY canon_url),
bs AS (
    SELECT canon_url, domain,
           CASE WHEN m9 = 1 THEN fp2 ELSE fp END AS fpb
    FROM rws WHERE m9 <> 0
    UNION ALL
    SELECT canon_url || '/v2', domain, fpn FROM rws WHERE m9 = 2),
fb AS (
    SELECT canon_url, MIN(fpb) AS fp_b, MIN(domain) AS dom_b
    FROM bs GROUP BY canon_url)
SELECT canon_url, COALESCE(dom_a, dom_b) AS domain,
       CASE WHEN fp_a IS NULL THEN 'new'
            WHEN fp_b IS NULL THEN 'gone'
            WHEN fp_a <> fp_b THEN 'changed'
            ELSE 'stable' END AS status
FROM fa FULL OUTER JOIN fb USING (canon_url)
ORDER BY canon_url""",
        "domain_policy": f"""
WITH {web.URL_CTES}, {_qual_sc_ctes()},
per_url AS (
    SELECT u.domain, u.canon_url, COUNT(*) AS n_copies,
           CAST(SUM(sc.quality_score) AS BIGINT) AS q_sum
    FROM web_urls u JOIN sc
      ON ({web.base_id_sql("u.doc_id")}) = sc.doc_id
    GROUP BY u.domain, u.canon_url),
dom AS (
    SELECT domain,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           {web._DUP_BP_SQL} AS dup_bp,
           CAST((CAST(SUM(q_sum) AS BIGINT) * 100)
                // CAST(SUM(n_copies) AS BIGINT) AS BIGINT) AS mean_q_c
    FROM per_url GROUP BY domain)
SELECT domain, n_docs, dup_bp, mean_q_c,
       CASE WHEN mean_q_c < {web.POLICY_QUAL_MIN_C} THEN 'drop'
            WHEN n_docs > {web.POLICY_CAP_DOCS}
                 OR dup_bp > {web.POLICY_DUP_MAX_BP} THEN 'cap'
            ELSE 'keep' END AS policy
FROM dom ORDER BY domain""",
        "url_canonicalize": f"""
WITH {web.URL_CTES}
SELECT doc_id, url, canon_url, domain FROM web_urls ORDER BY doc_id""",
        "domain_stats": f"""
WITH {web.URL_CTES},
per_url AS (
    SELECT domain, canon_url, COUNT(*) AS n_copies,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM web_urls GROUP BY domain, canon_url)
SELECT domain,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       {web._DUP_BP_SQL} AS dup_bp,
       CAST(SUM(chars) AS BIGINT) AS n_chars
FROM per_url GROUP BY domain ORDER BY domain""",
        "pagerank_step": f"""
WITH {web.PR_CTES}
SELECT v.doc_id, v.out_deg,
       CAST(COALESCE(i.n_in, 0) AS BIGINT) AS n_in,
       CAST({web.PR_BASE_BP} + ({web.PR_DAMP_NUM} * COALESCE(i.s, 0)) // 100
            AS BIGINT) AS rank_bp
FROM verts v LEFT JOIN inbound i ON v.doc_id = i.dst
ORDER BY v.doc_id""",
        # ---------------- portable sketches (full value oracles) -----------
        # the CMS and HLL are built from md5-derived BIGINTs specifically so
        # DuckDB can rebuild the SAME sketch: Spark conv(substr(md5,..),16,10)
        # == DuckDB ('0x'||substr(md5,..))::BIGINT, estimates in pure integer
        # arithmetic (powers of two, div) — no float anywhere
        "cms_heavy_audit": f"""
WITH wd AS (
    SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
g AS (
    SELECT array_to_string(list_slice(w, i, i + {sketches.SK_N - 1}), ' ') AS gram
    FROM wd, unnest(generate_series(1, greatest(len(w) - {sketches.SK_N - 1}, 0))) AS t(i)),
cnt AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS true_n FROM g GROUP BY gram),
pd AS (
    SELECT gram, true_n, d,
           ('0x' || substr(md5(d || ':' || gram), 1, 4))::BIGINT % {sketches.CMS_W} AS pos
    FROM cnt CROSS JOIN unnest({list(map(str, range(sketches.CMS_D)))}) AS t2(d)),
ctr AS (SELECT d, pos, CAST(SUM(true_n) AS BIGINT) AS c FROM pd GROUP BY d, pos),
probes AS (SELECT gram, true_n FROM cnt ORDER BY true_n DESC, gram LIMIT {sketches.CMS_TOP}),
est AS (
    SELECT p.gram, p.true_n, MIN(c.c) AS est_n
    FROM probes p
    CROSS JOIN unnest({list(map(str, range(sketches.CMS_D)))}) AS t3(d)
    JOIN ctr c ON c.d = t3.d
       AND c.pos = ('0x' || substr(md5(t3.d || ':' || p.gram), 1, 4))::BIGINT % {sketches.CMS_W}
    GROUP BY p.gram, p.true_n)
SELECT gram, true_n, CAST(est_n AS BIGINT) AS est_n,
       CAST(est_n - true_n AS BIGINT) AS excess
FROM est ORDER BY gram""",
        "hll_distinct_audit": f"""
WITH wd AS (
    SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
g AS (
    SELECT DISTINCT source,
           array_to_string(list_slice(w, i, i + {sketches.SK_N - 1}), ' ') AS gram
    FROM wd, unnest(generate_series(1, greatest(len(w) - {sketches.SK_N - 1}, 0))) AS t(i)),
h AS (SELECT source, md5(gram) AS hx FROM g),
r AS (
    SELECT source,
           ('0x' || substr(hx, 1, 2))::BIGINT % {sketches.HLL_M} AS bucket,
           CASE WHEN ('0x' || substr(hx, 3, 12))::BIGINT = 0 THEN {sketches.HLL_RHO_CAP}
                ELSE least(49 - length(printf('%b', ('0x' || substr(hx, 3, 12))::BIGINT)),
                           {sketches.HLL_RHO_CAP}) END AS rho
    FROM h),
regs AS (SELECT source, bucket, COUNT(*) AS n_b, MAX(rho) AS r
         FROM r GROUP BY source, bucket),
fold AS (
    SELECT source,
           CAST(SUM(n_b) AS BIGINT) AS n_exact,
           CAST(SUM(CAST(1 AS BIGINT) << ({sketches.HLL_RHO_CAP} - r))
                + ({sketches.HLL_M} - COUNT(*)) * {1 << sketches.HLL_RHO_CAP} AS BIGINT) AS z,
           CAST({sketches.HLL_M} - COUNT(*) AS BIGINT) AS n_zero_reg
    FROM regs GROUP BY source)
SELECT source, n_exact,
       CAST({sketches.HLL_NUM} // ({sketches.HLL_DEN} * z) AS BIGINT) AS hll_est,
       CAST(abs(({sketches.HLL_NUM} // ({sketches.HLL_DEN} * z)) - n_exact) * 10000
            // n_exact AS BIGINT) AS err_bp,
       n_zero_reg
FROM fold ORDER BY source""",
        # quantile audit: exact order statistics are value-oracled; the two
        # verdict flags are safe constants because the GK sketch's rank-error
        # bound (<= n div accuracy) is DETERMINISTIC, not probabilistic — any
        # percentile_approx answer violating it mismatches the hash
        "quantile_sketch_audit": """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50_exact,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90_exact,
       CAST(1 AS INT) AS ok_p50,
       CAST(1 AS INT) AS ok_p90
FROM events GROUP BY event_type ORDER BY event_type""",
        # soft quality sampling: quality_classifier's score CTE + per-tier
        # keep thresholds + the 'qws'-salted md5 bucket
        "quality_weighted_sample": f"""
WITH {_qual_sc_ctes(", text")},
dec AS (
    SELECT doc_id, quality_score,
           CAST(CASE WHEN quality_score >= {corpus.QUAL_ACCEPT} THEN {corpus.QWS_KEEP_HI}
                     WHEN quality_score >= {corpus.QWS_MID_SCORE} THEN {corpus.QWS_KEEP_MID}
                     ELSE {corpus.QWS_KEEP_LO} END AS INT) AS keep_threshold,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'qws')), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'qws')), 2, 1)) - 1)
              AS INT) AS bucket
    FROM sc)
SELECT doc_id, quality_score, keep_threshold, bucket,
       CAST(bucket < keep_threshold AS INT) AS kept
FROM dec ORDER BY doc_id""",
        # mixture solver: global feasible scale k = min over sources of
        # tokens*10^4 div weight; all integer div
        "mixture_rebalance": f"""
WITH t AS (
    SELECT source,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source),
w AS (
    SELECT source, n_tokens,
           CAST(1 + CAST(substr(source, 4) AS INT) % {corpus.REBAL_W_MOD} AS BIGINT) AS target_w
    FROM t),
k AS (SELECT CAST(MIN(n_tokens * 10000 // target_w) AS BIGINT) AS k FROM w)
SELECT source, target_w, n_tokens,
       CAST((k * target_w) // 10000 AS BIGINT) AS n_accept_tokens,
       CAST(((k * target_w) // 10000) * 10000 // n_tokens AS BIGINT) AS accept_bp
FROM w CROSS JOIN k ORDER BY source""",
        # salted join: results must be value-identical to the UNSALTED join —
        # the salt only changes the physical shuffle shape
        "skew_salted_join": """
WITH dim AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS src_chars
    FROM documents GROUP BY source)
SELECT doc_id, d.source, n_docs, src_chars,
       CAST(d.n_chars * 10000 // src_chars AS BIGINT) AS share_bp
FROM documents d JOIN dim USING (source)
ORDER BY doc_id""",
        # ---------------- extraction (independent arithmetic oracle) -------
        "extract_fulltext": f"""
WITH {_EXTRACT_WORDS},
agg AS (
    SELECT doc_id,
           string_agg(word, ' ' ORDER BY line, CASE WHEN has_desc THEN 0 ELSE 1 END, col) AS extracted_text,
           -- doc confidence: quantized-integer mean of kept-word confidences
           -- (conf/100 scale, quantum 1e-5) -> same two IEEE divisions as the
           -- kernel's mean_confidence, bit-exact
           (CAST(SUM(conf_raw) * 1000 AS BIGINT) / COUNT(*)) / 100000.0 AS confidence,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_total FROM geom GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.extracted_text, '') AS extracted_text,
       a.confidence AS confidence,
       COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(t.n_total, 0) - COALESCE(a.n_kept, 0) AS n_dropped
FROM documents d
LEFT JOIN agg a ON d.doc_id = a.doc_id
LEFT JOIN tot t ON d.doc_id = t.doc_id
ORDER BY d.doc_id""",
        "extract_word_boxes": f"""
WITH {_EXTRACT_WORDS},
ranked AS (
    SELECT doc_id, word,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY line, CASE WHEN has_desc THEN 0 ELSE 1 END, col
           ) - 1 AS INT) AS rank,
           round(conf_raw / 100.0, 6) AS conf,
           round(left_px / 1000.0, 6) AS "left",
           round(top_px / 1000.0, 6) AS top,
           round(90 / 1000.0, 6) AS width,
           round(20 / 1000.0, 6) AS height,
           round(top_px / 1000.0 + CASE WHEN has_desc
                 THEN (20 / 1000.0) * 0.77 ELSE 20 / 1000.0 END, 6) AS baseline
    FROM kept
)
SELECT doc_id, rank, word, conf, "left", top, width, height, baseline
FROM ranked ORDER BY doc_id, rank""",
        "extract_spans": f"""
WITH {_EXTRACT_WORDS},
ranked AS (
    SELECT doc_id, word,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY line, CASE WHEN has_desc THEN 0 ELSE 1 END, col
           ) - 1 AS INT) AS span_idx
    FROM kept),
spans AS (
    SELECT doc_id, span_idx, word,
           CAST(COALESCE(SUM(length(word) + 1) OVER (
               PARTITION BY doc_id ORDER BY span_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS span_start
    FROM ranked)
SELECT doc_id, span_idx, span_start,
       CAST(span_start + length(word) AS INT) AS span_end,
       word AS span_text
FROM spans ORDER BY doc_id, span_idx""",
        "extract_metrics_by_source": f"""
WITH {_EXTRACT_WORDS},
perdoc AS (
    SELECT g.doc_id,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE NOT (g.doc_id % 5 = 0 AND g.line = 1)) AS n_kept
    FROM geom g GROUP BY g.doc_id
)
SELECT d.source,
       CAST(SUM(COALESCE(p.n_kept, 0)) AS BIGINT) AS total_kept,
       CAST(SUM(COALESCE(p.n_total, 0) - COALESCE(p.n_kept, 0)) AS BIGINT) AS total_dropped,
       CAST(SUM(CASE WHEN COALESCE(p.n_total, 0) > COALESCE(p.n_kept, 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pruned
FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
GROUP BY d.source ORDER BY d.source""",
        "loss_mask_spans": f"""
WITH t AS (
    SELECT doc_id // {transcribe.TURNS_PER_CONV} AS conv_id,
           CAST(doc_id % {transcribe.TURNS_PER_CONV} AS INT) AS turn_idx,
           CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           array_to_string(list_slice(
               string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
               1, {transcribe.MASK_WORDS}), ' ') AS turn_text
    FROM documents),
c AS (
    SELECT conv_id, turn_idx, role,
           CAST(length(turn_text) AS BIGINT) AS n_chars,
           CAST(SUM(length(turn_text)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx) AS BIGINT) AS cum
    FROM t)
SELECT conv_id, turn_idx, role, n_chars,
       cum - n_chars + turn_idx AS start_off,
       cum + turn_idx AS end_off,
       CAST(role = 'assistant' AS INT) AS mask
FROM c ORDER BY conv_id, turn_idx""",
        "hierarchy_lines": """
WITH ws AS (
    SELECT doc_id,
           list_slice(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                      1, 40) AS w
    FROM documents),
st AS (
    SELECT doc_id, w, len(w) AS n_words, (len(w) + 9) // 10 AS n_lines FROM ws),
lines AS (
    SELECT doc_id, w, n_words, CAST(li AS INT) AS line_idx
    FROM st, unnest(generate_series(0, n_lines - 1)) AS t(li))
SELECT doc_id,
       line_idx,
       substr(sha256(doc_id || '|0|line|0|0|' || line_idx), 1, 16) AS line_id,
       -- blank words never become children (the rollup's str.strip() word
       -- filter, hierarchy.py) — mirror it so a whitespace-only document
       -- yields content '' / n_words 0 on both sides
       array_to_string(list_filter(
           list_slice(w, line_idx * 10 + 1, line_idx * 10 + 10),
           x -> x <> ''), ' ') AS content,
       0.0 AS "left",
       CAST(100 + line_idx * 100 AS DOUBLE) / 1000 AS top,
       1.0 AS width,
       CAST(20 AS DOUBLE) / 1000 AS height,
       CAST(len(list_filter(
           list_slice(w, line_idx * 10 + 1, line_idx * 10 + 10),
           x -> x <> '')) AS INT) AS n_words
FROM lines ORDER BY doc_id, line_idx""",
        "hierarchy_parents": """
WITH ws AS (
    SELECT doc_id,
           list_filter(
               list_slice(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                          1, 40),
               x -> x <> '') AS wk,
           len(list_slice(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                          1, 40)) AS n_words
    FROM documents),
st AS (
    SELECT doc_id, wk, (n_words + 9) // 10 AS n_lines FROM ws)
SELECT doc_id, 'block' AS kind,
       substr(sha256(doc_id || '|0|block|0'), 1, 16) AS el_id,
       array_to_string(wk, ' ') AS content,
       CAST(100 AS DOUBLE) / 1000 AS top,
       CAST(n_lines * 100 AS DOUBLE) / 1000 AS height,
       1 AS n_children
FROM st
UNION ALL
SELECT doc_id, 'paragraph' AS kind,
       substr(sha256(doc_id || '|0|paragraph|0|0'), 1, 16) AS el_id,
       array_to_string(wk, ' ') AS content,
       CAST(100 AS DOUBLE) / 1000 AS top,
       CAST(n_lines * 100 AS DOUBLE) / 1000 AS height,
       CAST(n_lines AS INT) AS n_children
FROM st
ORDER BY doc_id, kind""",
        # ---------------- multi-turn transcript curation (convo.py) --------
        "conv_topic_segments": f"""
WITH {_CONVO},
tk AS (
    SELECT conv_id, turn_idx,
           list_distinct(string_split(turn_text, ' ')) AS tk
    FROM ctb),
sims AS (
    SELECT a.conv_id, a.turn_idx AS gap_idx,
           CAST(len(list_intersect(a.tk, b.tk)) AS INT) AS sim
    FROM tk a JOIN tk b
      ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1),
sctx AS (
    SELECT conv_id, gap_idx, sim,
           LAG(sim) OVER sw AS prev_sim,
           LEAD(sim) OVER sw AS next_sim
    FROM sims
    WINDOW sw AS (PARTITION BY conv_id ORDER BY gap_idx))
SELECT conv_id, gap_idx, sim, prev_sim, next_sim,
       CAST(sim < COALESCE(prev_sim, 99) AND sim < COALESCE(next_sim, 99)
            AND sim <= {convo.SEG_SIM_MAX} AS INT) AS is_boundary
FROM sctx ORDER BY conv_id, gap_idx""",
        "secret_scan": f"""
WITH {_CONVO},
pl AS (
    SELECT conv_id, turn_idx,
           turn_text ||
           CASE bucket % {convo.SECRET_MOD}
             WHEN 0 THEN ' key=AKIA' || upper(substr(md5(turn_text || ':sk'), 1, 16))
             WHEN 1 THEN ' Authorization: Bearer ' || substr(md5(turn_text || ':sk'), 1, 24)
             WHEN 2 THEN ' from 10.' || (bucket % 200)::VARCHAR || '.0.' || (turn_idx + 1)::VARCHAR
             ELSE '' END ||
           CASE WHEN bucket % {convo.EMAIL_EVERY} = 0
                THEN ' contact ops' || conv_id::VARCHAR || '@example.com'
                ELSE '' END AS payload
    FROM ctb)
SELECT conv_id, turn_idx,
       CAST(length(regexp_extract_all(payload, '{convo.AKIA_RE}')) AS INT) AS n_awskey,
       CAST(length(regexp_extract_all(payload, '{convo.BEARER_RE}')) AS INT) AS n_bearer,
       CAST(length(regexp_extract_all(payload, '{convo.IPV4_RE}')) AS INT) AS n_ipv4,
       CAST(length(regexp_extract_all(payload, '{corpus.EMAIL_RE}')) AS INT) AS n_email,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(payload,
            '{convo.BEARER_RE}', 'Bearer <TOKEN>', 'g'),
            '{convo.AKIA_RE}', '<AWS_KEY>', 'g'),
            '{convo.IPV4_RE}', '<IP>', 'g'),
            '{corpus.EMAIL_RE}', '<EMAIL>', 'g')) AS INT) AS redacted_len
FROM pl ORDER BY conv_id, turn_idx""",
        "continuation_stitch": f"""
WITH {_CONVO},{_STITCH_CTES},
det AS (
    SELECT conv_id, txt2,
           CASE WHEN txt2 = 'continue' THEN 1 ELSE 0 END AS is_cont,
           COALESCE(lead(txt2 = 'continue') OVER cw, FALSE) AS truncated,
           lead(txt2, 2) OVER cw AS after
    FROM ov WINDOW cw AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT conv_id, COUNT(*) AS n_turns,
       CAST(SUM(is_cont) AS BIGINT) AS n_continue,
       CAST(SUM(CASE WHEN truncated AND after IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stitched,
       CAST(COALESCE(SUM(CASE WHEN truncated AND after IS NOT NULL
            THEN length(txt2 || ' ' || after) END), 0) AS BIGINT) AS stitched_chars
FROM det GROUP BY conv_id ORDER BY conv_id""",
        "conv_stitch_apply": f"""
WITH {_CONVO},{_STITCH_CTES},
fl AS (
    SELECT conv_id, turn_idx, role, txt2,
           (txt2 = 'continue') AS is_cont,
           COALESCE(lag(txt2 = 'continue') OVER cw, FALSE) AS post_cont
    FROM ov WINDOW cw AS (PARTITION BY conv_id ORDER BY turn_idx)),
gr AS (
    SELECT *, SUM(CASE WHEN is_cont OR post_cont THEN 0 ELSE 1 END)
              OVER (PARTITION BY conv_id ORDER BY turn_idx) AS g
    FROM fl),
m AS (
    SELECT conv_id, g,
           arg_min(role, turn_idx) AS role,
           CAST(COUNT(*) FILTER (WHERE NOT is_cont) AS INT) AS n_merged,
           COALESCE(string_agg(txt2, ' ' ORDER BY turn_idx)
                    FILTER (WHERE NOT is_cont), '') AS text
    FROM gr GROUP BY conv_id, g)
SELECT conv_id,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY g) AS INT) AS new_idx,
       role, n_merged, text
FROM m ORDER BY conv_id, new_idx""",
        "role_sequence_audit": f"""
WITH {_CONVO},
r AS (
    SELECT conv_id, turn_idx,
           (['user', 'assistant', 'tool'])[bucket % 3 + 1] AS r3
    FROM ctb),
f AS (
    SELECT conv_id, turn_idx, r3,
           lag(r3) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
    FROM r),
b AS (
    SELECT conv_id, turn_idx,
           CASE WHEN (turn_idx = 0 AND r3 <> 'user')
                  OR (turn_idx > 0 AND r3 = prev)
                  OR (r3 = 'tool' AND (turn_idx = 0 OR prev <> 'assistant'))
                THEN 1 ELSE 0 END AS bad
    FROM f)
SELECT conv_id, COUNT(*) AS n_turns,
       CAST(SUM(bad) AS BIGINT) AS n_violations,
       CAST(COALESCE(MIN(CASE WHEN bad = 1 THEN turn_idx END), -1) AS INT) AS first_bad_turn,
       CAST(CASE WHEN SUM(bad) = 0 THEN 1 ELSE 0 END AS INT) AS valid
FROM b GROUP BY conv_id ORDER BY conv_id""",
        "turn_dedup_xconv": f"""
WITH {_CONVO},
g AS (SELECT md5(turn_text) AS tkey, conv_id, turn_idx FROM ctb),
a AS (
    SELECT tkey, COUNT(*) AS n_turns, COUNT(DISTINCT conv_id) AS n_convs,
           MIN(conv_id) AS canon_conv
    FROM g GROUP BY tkey HAVING COUNT(DISTINCT conv_id) >= 2),
c AS (
    SELECT g.tkey, CAST(MIN(g.turn_idx) AS INT) AS canon_turn
    FROM g JOIN a ON g.tkey = a.tkey AND g.conv_id = a.canon_conv
    GROUP BY g.tkey)
SELECT a.tkey, a.n_turns, a.n_convs, a.canon_conv, c.canon_turn
FROM a JOIN c USING (tkey) ORDER BY tkey""",
        "conv_prefix_containment": f"""
WITH {_CONVO},
sq AS (
    SELECT conv_id, string_agg(md5(turn_text), '' ORDER BY turn_idx) AS seq,
           CAST(COUNT(*) AS INT) AS n_turns
    FROM ctb GROUP BY conv_id),
pref AS (
    SELECT conv_id AS container, n_turns AS nb,
           substr(seq, 1, CAST(l AS INT) * 32) AS p, CAST(l AS INT) AS l
    FROM sq, unnest(generate_series(1, CAST(n_turns AS BIGINT))) AS g(l)),
hits AS (
    SELECT a.conv_id, a.n_turns, b.nb
    FROM sq a JOIN pref b
      ON a.seq = b.p AND a.n_turns = b.l
     AND (b.nb > a.n_turns OR (b.nb = a.n_turns AND b.container < a.conv_id)))
SELECT conv_id, CAST(MIN(n_turns) AS INT) AS n_turns, COUNT(*) AS n_containers,
       CAST(MAX(CASE WHEN nb = n_turns THEN 1 ELSE 0 END) AS INT) AS exact_dup
FROM hits GROUP BY conv_id ORDER BY conv_id""",
        "conv_fork_points": f"""
WITH {_CONVO},
ar AS (
    SELECT conv_id, list(md5(turn_text) ORDER BY turn_idx) AS arr
    FROM ctb GROUP BY conv_id),
ex AS (
    SELECT conv_id, CAST(d AS INT) AS depth,
           array_to_string(list_slice(arr, 1, CAST(d AS INT)), '') AS prefix,
           arr[CAST(d AS INT) + 1] AS nxt
    FROM ar, unnest(generate_series(1, CAST(len(arr) - 1 AS BIGINT))) AS g(d)),
gr AS (
    SELECT depth, prefix, COUNT(*) AS n_convs, COUNT(DISTINCT nxt) AS n_next
    FROM ex GROUP BY depth, prefix)
SELECT depth,
       CAST(SUM(CASE WHEN n_convs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_prefixes,
       CAST(SUM(CASE WHEN n_next >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_forks
FROM gr GROUP BY depth ORDER BY depth""",
        # conv_decontaminate: a transcript is tainted if ANY turn shares a
        # DECON_N-gram with the held-out test split; bench grams re-derived
        # exactly as in the document-level decontaminate oracle, turn grams
        # from the single-space turn_text (already whitespace-normalized)
        "conv_decontaminate": f"""
WITH {_CONVO},
lab AS (
    SELECT doc_id, text,
           CASE WHEN bucket < {corpus.TRAIN_UPTO} THEN 'train'
                WHEN bucket < {corpus.VAL_UPTO} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, text,
               CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
                  + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
                  AS INT) AS bucket
        FROM documents)),
bw AS (SELECT string_split_regex(trim(text), '\\s+') AS ws FROM lab WHERE split = 'test'),
bg AS (
    SELECT DISTINCT array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
    FROM bw, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
tw AS (SELECT conv_id, turn_idx, string_split(turn_text, ' ') AS ws FROM ctb),
bad AS (
    SELECT conv_id, COUNT(*) AS n_bad FROM (
        SELECT DISTINCT conv_id, turn_idx
        FROM tw, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)
        WHERE array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ')
              IN (SELECT gram FROM bg))
    GROUP BY conv_id),
nt AS (SELECT conv_id, COUNT(*) AS n_turns FROM ctb GROUP BY conv_id)
SELECT nt.conv_id, nt.n_turns,
       CAST(COALESCE(n_bad, 0) AS BIGINT) AS n_leaky_turns,
       CAST(COALESCE(n_bad, 0) = 0 AS INT) AS keep
FROM nt LEFT JOIN bad USING (conv_id) ORDER BY conv_id""",
        "context_budget": f"""
WITH {_CONVO},
cc AS (
    SELECT conv_id, turn_idx, CAST(length(turn_text) AS BIGINT) AS n_chars,
           SUM(CAST(length(turn_text) AS BIGINT)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS UNBOUNDED PRECEDING) + turn_idx AS cum_end
    FROM ctb),
k AS (
    SELECT conv_id, n_chars,
           CASE WHEN cum_end <= {convo.BUDGET_CHARS} THEN 1 ELSE 0 END AS kept
    FROM cc)
SELECT conv_id, COUNT(*) AS n_turns,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       CAST(MAX(CASE WHEN kept = 0 THEN 1 ELSE 0 END) AS INT) AS truncated
FROM k GROUP BY conv_id ORDER BY conv_id""",
        "assistant_echo": f"""
WITH {_CONVO},
w AS (
    SELECT conv_id, turn_idx, role,
           list_distinct(string_split(turn_text, ' ')) AS dw
    FROM ctb),
l AS (
    SELECT conv_id, turn_idx, role, dw,
           lag(dw) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pdw
    FROM w)
SELECT conv_id, turn_idx,
       CAST(len(dw) AS INT) AS n_distinct,
       CAST(len(list_intersect(dw, pdw)) AS INT) AS n_echo,
       (CAST(len(list_intersect(dw, pdw)) AS BIGINT) * 10000) // len(dw) AS echo_bp
FROM l WHERE role = 'assistant' AND turn_idx >= 1
ORDER BY conv_id, turn_idx""",
        "reply_latency": f"""
WITH {_CONVO},
o AS (
    SELECT conv_id, turn_idx,
           CAST(turn_idx * 60 + bucket % 60 AS BIGINT) AS off_s
    FROM ctb),
g AS (
    SELECT conv_id,
           off_s - lag(off_s) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_s
    FROM o)
SELECT conv_id, COUNT(*) AS n_gaps,
       CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
       CAST(SUM(CASE WHEN gap_s > {convo.LONG_GAP_S} THEN 1 ELSE 0 END) AS BIGINT) AS n_long_gaps
FROM g WHERE gap_s IS NOT NULL GROUP BY conv_id ORDER BY conv_id""",
        "tool_turn_stats": f"""
WITH {_CONVO},
s AS (
    SELECT conv_id,
           CASE WHEN bucket % 5 IN (0, 1, 2) THEN 1 ELSE 0 END AS has_tool,
           CASE WHEN bucket % 5 IN (0, 1) THEN 1 ELSE 0 END AS ok,
           CASE WHEN bucket % 5 = 0 THEN 2 ELSE 0 END AS nc
    FROM ctb)
SELECT conv_id, COUNT(*) AS n_turns,
       CAST(SUM(has_tool) AS BIGINT) AS n_tool,
       CAST(SUM(ok) AS BIGINT) AS n_valid,
       CAST(SUM(has_tool - ok) AS BIGINT) AS n_malformed,
       CAST(SUM(nc) AS BIGINT) AS n_codes
FROM s GROUP BY conv_id ORDER BY conv_id""",
        "transcript_funnel": f"""
WITH {_CONVO},
r AS (
    SELECT conv_id, turn_idx,
           (['user', 'assistant', 'tool'])[bucket % 3 + 1] AS r3
    FROM ctb),
fch AS (
    SELECT conv_id, turn_idx, r3,
           lag(r3) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
    FROM r),
bd AS (
    SELECT conv_id,
           CASE WHEN (turn_idx = 0 AND r3 <> 'user')
                  OR (turn_idx > 0 AND r3 = prev)
                  OR (r3 = 'tool' AND (turn_idx = 0 OR prev <> 'assistant'))
                THEN 1 ELSE 0 END AS bad
    FROM fch),
vv AS (SELECT conv_id, CASE WHEN SUM(bad) = 0 THEN 1 ELSE 0 END AS v FROM bd GROUP BY conv_id),
sq AS (
    SELECT conv_id, string_agg(md5(turn_text), '' ORDER BY turn_idx) AS seq,
           CAST(COUNT(*) AS INT) AS n_turns
    FROM ctb GROUP BY conv_id),
pref AS (
    SELECT conv_id AS container, n_turns AS nb,
           substr(seq, 1, CAST(l AS INT) * 32) AS p, CAST(l AS INT) AS l
    FROM sq, unnest(generate_series(1, CAST(n_turns AS BIGINT))) AS g(l)),
cont AS (
    SELECT DISTINCT a.conv_id
    FROM sq a JOIN pref b
      ON a.seq = b.p AND a.n_turns = b.l
     AND (b.nb > a.n_turns OR (b.nb = a.n_turns AND b.container < a.conv_id))),
cb AS (
    SELECT conv_id,
           SUM(CAST(length(turn_text) AS BIGINT)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS UNBOUNDED PRECEDING) + turn_idx AS cum_end
    FROM ctb),
ff AS (
    SELECT conv_id,
           CASE WHEN SUM(CASE WHEN cum_end <= {convo.BUDGET_CHARS} THEN 0 ELSE 1 END) = 0
                THEN 1 ELSE 0 END AS f
    FROM cb GROUP BY conv_id),
per AS (
    SELECT vv.conv_id, v,
           CASE WHEN cont.conv_id IS NULL THEN 1 ELSE 0 END AS canon, f
    FROM vv LEFT JOIN cont ON vv.conv_id = cont.conv_id
    JOIN ff ON vv.conv_id = ff.conv_id),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS s0,
           CAST(SUM(v) AS BIGINT) AS s1,
           CAST(SUM(v * canon) AS BIGINT) AS s2,
           CAST(SUM(v * canon * f) AS BIGINT) AS s3
    FROM per)
SELECT 0 AS stage_idx, 'raw' AS stage, s0 AS n_convs FROM s
UNION ALL SELECT 1, 'role_valid', s1 FROM s
UNION ALL SELECT 2, 'containment_dedup', s2 FROM s
UNION ALL SELECT 3, 'in_budget', s3 FROM s
ORDER BY stage_idx""",
        "fork_preference_pairs": f"""
WITH {_CONVO},
ar AS (
    SELECT conv_id,
           list(md5(turn_text) ORDER BY turn_idx) AS arr,
           list(turn_text ORDER BY turn_idx) AS txts
    FROM ctb GROUP BY conv_id),
ex AS (
    SELECT conv_id, CAST(d AS INT) AS depth,
           md5(array_to_string(list_slice(arr, 1, CAST(d AS INT)), '')) AS prefix_key,
           txts[CAST(d AS INT) + 1] AS nxt_text
    FROM ar, unnest(generate_series(1, CAST(len(arr) - 1 AS BIGINT))) AS g(d)),
gr AS (
    SELECT depth, prefix_key,
           CAST(COUNT(*) AS BIGINT) AS n_attempts,
           arg_max(conv_id, conv_id) AS chosen_conv,
           arg_min(conv_id, conv_id) AS rejected_conv,
           arg_max(nxt_text, conv_id) AS chosen_text,
           arg_min(nxt_text, conv_id) AS rejected_text
    FROM ex GROUP BY depth, prefix_key)
SELECT depth, prefix_key, n_attempts, chosen_conv, rejected_conv,
       chosen_text, rejected_text
FROM gr WHERE n_attempts >= 2 AND chosen_text <> rejected_text
ORDER BY depth, prefix_key""",
        "preference_pair_stats": f"""
WITH {_CONVO},
ar AS (
    SELECT conv_id,
           list(md5(turn_text) ORDER BY turn_idx) AS arr,
           list(turn_text ORDER BY turn_idx) AS txts
    FROM ctb GROUP BY conv_id),
ex AS (
    SELECT conv_id, CAST(d AS INT) AS depth,
           md5(array_to_string(list_slice(arr, 1, CAST(d AS INT)), '')) AS prefix_key,
           txts[CAST(d AS INT) + 1] AS nxt_text
    FROM ar, unnest(generate_series(1, CAST(len(arr) - 1 AS BIGINT))) AS g(d)),
gr AS (
    SELECT depth, prefix_key,
           COUNT(*) AS n_attempts,
           arg_max(nxt_text, conv_id) AS chosen_text,
           arg_min(nxt_text, conv_id) AS rejected_text
    FROM ex GROUP BY depth, prefix_key),
pr AS (
    SELECT depth,
           CAST(length(chosen_text) AS BIGINT) AS cl,
           CAST(length(rejected_text) AS BIGINT) AS rl
    FROM gr WHERE n_attempts >= 2 AND chosen_text <> rejected_text)
SELECT depth, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN cl > rl THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen_longer,
       CAST(SUM(CASE WHEN cl < rl THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected_longer,
       CAST(SUM(cl - rl) AS BIGINT) AS sum_margin_chars
FROM pr GROUP BY depth ORDER BY depth""",
        "sft_pack_conversations": f"""
WITH {_CONVO},
cc AS (
    SELECT conv_id, turn_idx, role,
           CAST(length(turn_text) AS BIGINT) AS n_chars,
           CAST(SUM(CAST(length(turn_text) AS BIGINT)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM ctb),
pt AS (
    SELECT conv_id, turn_idx, role,
           cum - n_chars + turn_idx AS t_start, cum + turn_idx AS t_end
    FROM cc),
cv2 AS (
    SELECT conv_id, MAX(cum) + MAX(turn_idx) AS conv_chars FROM cc GROUP BY conv_id),
pk AS (
    SELECT conv_id, conv_id % {convo.PACK_STREAMS} AS stream,
           CAST(SUM(conv_chars) OVER (
               PARTITION BY conv_id % {convo.PACK_STREAMS} ORDER BY conv_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) - conv_chars AS before
    FROM cv2),
pl AS (
    SELECT conv_id, stream, before // {convo.SFT_BUDGET_CHARS} AS sample_id,
           before - MIN(before) OVER (
               PARTITION BY stream, before // {convo.SFT_BUDGET_CHARS}) AS base
    FROM pk)
SELECT stream, sample_id, pt.conv_id AS conv_id,
       CAST(turn_idx AS INT) AS turn_idx, role,
       base + t_start AS start_off, base + t_end AS end_off,
       CAST(role = 'assistant' AS INT) AS mask
FROM pt JOIN pl ON pt.conv_id = pl.conv_id
ORDER BY stream, sample_id, conv_id, turn_idx""",
        "conversation_stats": f"""
WITH t AS (
    SELECT doc_id // {transcribe.TURNS_PER_CONV} AS conv_id,
           CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           array_to_string(list_slice(
               string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
               1, {transcribe.MASK_WORDS}), ' ') AS turn_text
    FROM documents),
agg AS (
    SELECT conv_id,
           COUNT(*) AS n_turns,
           CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
           CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
           CAST(SUM(length(turn_text)) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN role = 'assistant' THEN length(turn_text) ELSE 0 END) AS BIGINT) AS assistant_chars
    FROM t GROUP BY conv_id)
SELECT conv_id, n_turns, n_user, n_assistant, total_chars, assistant_chars,
       (assistant_chars * 10000) // total_chars AS assistant_bp
FROM agg ORDER BY conv_id""",
        # ---------------- relational inventory -----------------------------
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(CAST(SUM(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       round(AVG(l_quantity), 4) AS avg_qty,
       round(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
        "broadcast_region_customers": """
SELECT r_name, COUNT(*) AS n_customers,
       round(CAST(SUM(c_acctbal) AS DOUBLE), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name""",
        "anti_join_quiet_orders": """
SELECT o_orderkey, o_totalprice FROM orders o
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY)
ORDER BY o_orderkey""",
        "overlap_anti_join_geometric": """
WITH rect AS (
    SELECT l_orderkey, l_linenumber, l_discount AS x, l_tax AS rw,
           l_quantity / 100.0 AS y, CAST(0.2 AS DOUBLE) AS rh
    FROM lineitem),
code AS (
    SELECT l_orderkey, l_tax AS cx, l_discount AS cw,
           l_quantity / 150.0 AS cy, CAST(0.3 AS DOUBLE) AS ch
    FROM lineitem WHERE l_extendedprice > 50000)
SELECT r.l_orderkey, COUNT(*) AS n_kept
FROM rect r
WHERE NOT EXISTS (
    SELECT 1 FROM code c
    WHERE c.l_orderkey = r.l_orderkey
      AND NOT (r.x + r.rw <= c.cx OR c.cx + c.cw <= r.x
               OR r.y + r.rh <= c.cy OR c.cy + c.ch <= r.y))
GROUP BY r.l_orderkey ORDER BY r.l_orderkey""",
        "rollup_lineitem": """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       round(CAST(SUM(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(MIN(l_extendedprice), 2) AS min_price,
       round(MAX(l_extendedprice), 2) AS max_price,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus""",
        "ordered_agg_lineitems": """
SELECT l_orderkey,
       string_agg(CAST(l_linenumber AS VARCHAR), ' ' ORDER BY l_linenumber) AS line_seq,
       CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_x100
FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
        "window_rownum_orders": """
SELECT o_custkey, o_orderkey, rn FROM (
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey ASC
           ) AS INT) AS rn
    FROM orders) t
WHERE rn <= 3 ORDER BY o_custkey, rn""",
        "session_gap_events": """
WITH flagged AS (
    SELECT user_id, value, ts, event_id,
           CASE WHEN CAST(epoch(ts) AS BIGINT)
                     - LAG(CAST(epoch(ts) AS BIGINT)) OVER w > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, value,
           CAST(SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
    FROM flagged)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""",
        "topk_orders": """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
        "min_by_supplier": """
SELECT s_nationkey, s_name AS cheapest FROM (
    SELECT s_nationkey, s_name,
           ROW_NUMBER() OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal, s_suppkey) AS rn
    FROM supplier) t
WHERE rn = 1 ORDER BY s_nationkey""",
        "union_by_name": """
WITH u AS (
    SELECT doc_id AS id, 'doc' AS src, CAST(n_chars AS BIGINT) AS n FROM documents
    UNION ALL
    SELECT event_id AS id, 'event' AS src, NULL AS n FROM events)
SELECT src, COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS sum_n
FROM u GROUP BY src ORDER BY src""",
        "scalar_sampler": """
SELECT doc_id,
       CAST(length(lower(trim(text))) AS INT) AS len_lower,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(length(regexp_extract_all(text, 'the')) AS INT) AS n_the,
       least(n_chars, 200) AS len_capped,
       greatest(n_chars, 200) AS len_floor,
       abs(n_chars - 300) AS len_dist,
       concat_ws('|', lang, source) AS lang_src,
       substr(text, 1, 16) AS prefix,
       upper(lang) AS lang_upper,
       CAST(starts_with(text, 'key') AS INT) AS starts_key
FROM documents ORDER BY doc_id""",
        "from_json_events": """
SELECT event_id, k FROM (
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events) t
WHERE k > 50 ORDER BY event_id""",
        "unbase64_roundtrip": """
SELECT doc_id,
       CAST(octet_length(from_base64(to_base64(encode(text)))) AS INT) AS n_bytes,
       substr(decode(from_base64(to_base64(encode(text)))), 1, 12) AS decoded_prefix,
       CAST(decode(from_base64(to_base64(encode(text)))) = text AS INT) AS roundtrip_ok
FROM documents ORDER BY doc_id""",
        "hash_key_lineitem": """
SELECT l_orderkey, l_linenumber,
       substr(sha256(concat_ws('|', CAST(l_orderkey AS VARCHAR),
                               CAST(l_linenumber AS VARCHAR))), 1, 16) AS row_id
FROM lineitem ORDER BY l_orderkey, l_linenumber""",
        "baseline_conditional": f"""
SELECT doc_id,
       CAST(regexp_matches(lower(text), '{DESCENDER_REGEX}') AS INT) AS has_desc,
       round(CASE WHEN regexp_matches(lower(text), '{DESCENDER_REGEX}')
                  THEN CAST(n_chars AS DOUBLE) * 0.77
                  ELSE CAST(n_chars AS DOUBLE) END, 4) AS baseline_px
FROM documents ORDER BY doc_id""",
        "join_two_branches": """
WITH a AS (SELECT user_id, COUNT(*) AS n_clicks FROM events
           WHERE event_type = 'click' GROUP BY user_id),
     b AS (SELECT user_id, COUNT(*) AS n_views FROM events
           WHERE event_type = 'view' GROUP BY user_id)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_views, 0) AS n_views
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
ORDER BY user_id""",
        "admission_filter": """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE text IS NOT NULL AND length(text) <= 100000
  AND lang IN ('en', 'de') AND starts_with(source, 'c') AND n_chars > 50
ORDER BY doc_id""",
        "to_json_assembly": """
SELECT l_orderkey,
       '{"order":' || l_orderkey || ',"lines":[' ||
       array_to_string(lines, ',') || '],"n":' || len(lines) || '}' AS doc_json
FROM (SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines
      FROM lineitem GROUP BY l_orderkey) t
ORDER BY l_orderkey""",
        # ---------------- text analysis ------------------------------------
        "lang_id": f"""
SELECT doc_id,
       CAST(length(regexp_extract_all(lower(text), '{EN_STOPWORDS}')) AS INT) AS en_hits,
       CAST(length(regexp_extract_all(lower(text), '{DE_STOPWORDS}')) AS INT) AS de_hits,
       CASE WHEN length(regexp_extract_all(lower(text), '{EN_STOPWORDS}'))
                 >= length(regexp_extract_all(lower(text), '{DE_STOPWORDS}'))
            THEN 'en' ELSE 'de' END AS lang_guess
FROM documents ORDER BY doc_id""",
        "quality_score": f"""
WITH m AS (
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n,
           CAST(length(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct,
           CAST(length(regexp_extract_all(lower(text), '{EN_STOPWORDS}')) AS DOUBLE) AS n_stop,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
    FROM documents)
SELECT doc_id,
       round(n_punct / n, 4) AS punct_ratio,
       round(n_stop / n_tok, 4) AS stop_ratio,
       round(0.4 * least(n / 400.0, 1.0)
             + 0.3 * least(n_stop / n_tok * 4, 1.0)
             + 0.3 * (1 - least(n_punct / n * 10, 1.0)), 4) AS quality
FROM m ORDER BY doc_id""",
        "token_count": f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
       CAST(length(regexp_extract_all(text, '{BPE_ISH}')) AS INT) AS bpe_tokens
FROM documents ORDER BY doc_id""",
        "doc_fingerprint": f"""
SELECT doc_id,
       list_reduce(
           list_transform(generate_series(1, length(text)),
                          i -> CAST(ascii(text[i]) AS BIGINT)),
           (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}) AS fp
FROM documents ORDER BY doc_id""",
        # ---------------- time-series --------------------------------------
        "asof_join_events": """
WITH clicks AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
views AS (
    SELECT user_id, ts, event_id, event_id AS view_id, value AS view_value,
           ts AS view_ts
    FROM events WHERE event_type = 'view'),
tagged AS (
    SELECT user_id, ts, event_id, 1 AS kind,
           CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS DOUBLE) AS view_value,
           CAST(NULL AS TIMESTAMP) AS view_ts
    FROM clicks
    UNION ALL
    SELECT user_id, ts, event_id, 0 AS kind, view_id, view_value, view_ts
    FROM views),
carried AS (
    SELECT user_id, ts, event_id, kind,
           last_value(view_id IGNORE NULLS) OVER w AS a_view_id,
           last_value(view_value IGNORE NULLS) OVER w AS a_view_value,
           last_value(view_ts IGNORE NULLS) OVER w AS a_view_ts
    FROM tagged
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, a_view_id AS view_id,
       round(a_view_value, 4) AS view_value,
       epoch_us(ts) - epoch_us(a_view_ts) AS lag_us
FROM carried WHERE kind = 1 ORDER BY user_id, event_id""",
        "range_join_events": f"""
WITH c AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'),
v AS (
    SELECT user_id, ts AS view_ts, event_id AS view_id FROM events
    WHERE event_type = 'view')
SELECT c.user_id, c.click_id, v.view_id,
       epoch_us(c.ts) - epoch_us(v.view_ts) AS lag_us
FROM c JOIN v
  ON c.user_id = v.user_id
 AND v.view_ts > c.ts - INTERVAL {asof.RANGE_WINDOW_S} SECOND
 AND v.view_ts <= c.ts
ORDER BY c.user_id, c.click_id, v.view_id""",
        # outer CAST on each sx100: DuckDB promotes SUM(BIGINT) to HUGEINT,
        # which serializes as int128/float64 and hash-mismatches Spark's
        # int64 even when every cell is identical (VERDICT r2 red row)
        "pivot_event_matrix": f"""
SELECT user_id,
       {", ".join(
           f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}_n, "
           f"CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)) "
           f"FILTER (WHERE event_type = '{t}'), 0) AS BIGINT) AS {t}_sx100"
           for t in tpch.EVENT_TYPES)}
FROM events GROUP BY user_id ORDER BY user_id""",
        "value_percentiles": """
SELECT event_type, COUNT(*) AS n,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99,
       round(MIN(value), 4) AS vmin,
       round(MAX(value), 4) AS vmax
FROM events GROUP BY event_type ORDER BY event_type""",
        "map_headers": """
SELECT doc_id,
       '{"content-type":"application/json","x-lang":"' || lang ||
       '","x-source":"' || source || '"}' AS headers_json,
       lang AS lang_header,
       3 AS n_headers
FROM documents ORDER BY doc_id""",
        "window_hourly_events": """
SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts, TIMESTAMP '1970-01-01')) AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
FROM events
GROUP BY window_start_us, event_type
ORDER BY window_start_us, event_type""",
        # ---------------- corpus curation ----------------------------------
        "repetition_stats": """
WITH base AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
stats AS (
    SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct,
           list_transform(generate_series(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1]) AS grams
    FROM base),
gc AS (
    SELECT doc_id, unnest(grams) AS gram FROM stats),
counts AS (
    SELECT doc_id, gram, COUNT(*) AS n FROM gc GROUP BY doc_id, gram),
top AS (
    SELECT doc_id, gram, n FROM (
        SELECT doc_id, gram, n,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, gram ASC) AS rn
        FROM counts) t WHERE rn = 1)
SELECT s.doc_id,
       CAST(s.n_words AS INT) AS n_words,
       round(1 - CAST(s.n_distinct AS DOUBLE) / s.n_words, 4) AS dup_word_frac,
       t.gram AS top_2gram,
       round(CAST(t.n AS DOUBLE) / (s.n_words - 1), 4) AS top_2gram_frac
FROM stats s JOIN top t ON s.doc_id = t.doc_id
ORDER BY s.doc_id""",
        "heavy_hitters": f"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
counts AS (
    SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token)
SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS INT) AS rank
FROM counts ORDER BY n DESC, token ASC LIMIT {corpus.N_HITTERS}""",
        "tfidf_topterms": f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
    FROM documents),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM toks
    WHERE token <> '' GROUP BY doc_id, token),
df AS (
    SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
    WHERE token <> '' GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 4) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
SELECT doc_id, rank, token, tf, df, tfidf FROM (
    SELECT doc_id, token, tf, df, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, token ASC) AS INT) AS rank
    FROM scored) t
WHERE rank <= {corpus.TOP_TERMS} ORDER BY doc_id, rank""",
        "sample_split": f"""
WITH b AS (
    SELECT doc_id,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
              AS INT) AS bucket
    FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < {corpus.TRAIN_UPTO} THEN 'train'
            WHEN bucket < {corpus.VAL_UPTO} THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id""",
        "stratified_sample": f"""
SELECT lang, source, doc_id, CAST(rn AS INT) AS rn FROM (
    SELECT lang, source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang, source
                              ORDER BY md5(text), doc_id) AS rn
    FROM documents) t
WHERE rn <= {corpus.STRATUM_K} ORDER BY lang, source, rn""",
        "chunk_documents": f"""
WITH ws AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
st AS (
    SELECT doc_id, w,
           generate_series(1, greatest(len(w), 1), {corpus.CHUNK_STRIDE}) AS starts
    FROM ws),
ex AS (SELECT doc_id, w, unnest(starts) AS sw FROM st)
SELECT doc_id,
       CAST((sw - 1) // {corpus.CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(sw AS INTEGER) AS start_word,
       CAST(least({corpus.CHUNK_SIZE}, len(w) - sw + 1) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(w, sw, sw + {corpus.CHUNK_SIZE} - 1), ' ') AS chunk_text
FROM ex ORDER BY doc_id, chunk_idx""",
        "pack_shards": f"""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents),
c AS (
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                - n_tokens AS BIGINT) AS tokens_before
    FROM t)
SELECT doc_id, lang, n_tokens,
       tokens_before // {corpus.PACK_BUDGET} AS shard_id,
       tokens_before
FROM c ORDER BY doc_id""",
        # curation_incremental: the batch overlay, the gopher gate, and the
        # normalized index keys all re-derived independently
        "curation_incremental": f"""
WITH batch AS (
    SELECT doc_id + 2000000 AS doc_id, upper(text) || '  !!' AS text
    FROM documents WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id + 4000000 AS doc_id,
           text || ' brand new appendix ' || CAST(doc_id AS VARCHAR) AS text
    FROM documents WHERE doc_id % 3 = 0),
ws AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w FROM batch),
st AS (
    SELECT doc_id, text,
           CAST(len(w) AS INT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
           CAST(length(regexp_extract_all(lower(text), '{EN_STOPWORDS}')) AS INT) AS n_stop
    FROM ws),
gf AS (
    SELECT doc_id, text,
           CAST(n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
                AND (sum_len * 100) // n_words
                    BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
                AND (n_distinct * 10000) // n_words >= {corpus.GOPHER_DISTINCT_MIN_BP}
                AND n_stop >= {corpus.GOPHER_STOP_MIN} AS INT) AS pass_gopher
    FROM st),
bk AS (
    SELECT doc_id, pass_gopher,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS nt
    FROM gf),
idx AS (
    SELECT DISTINCT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                        ' +', ' ', 'g')) AS nt
    FROM documents)
SELECT bk.doc_id, bk.pass_gopher,
       CAST(idx.nt IS NULL AS INT) AS is_novel,
       CAST(bk.pass_gopher = 1 AND idx.nt IS NULL AS INT) AS admitted
FROM bk LEFT JOIN idx ON idx.nt = bk.nt
ORDER BY bk.doc_id""",
        # source_token_drift: HUGEINT cross-multiplication internally, the
        # closed-form absent-mass term, BIGINT basis points out
        "source_token_drift": """
WITH t AS (
    SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents),
tt AS (SELECT source, tok FROM t WHERE tok <> ''),
sc AS (SELECT source, tok, CAST(COUNT(*) AS HUGEINT) AS tf_s FROM tt GROUP BY source, tok),
ccs AS (SELECT tok, CAST(SUM(tf_s) AS HUGEINT) AS tf_c FROM sc GROUP BY tok),
tss AS (SELECT source, CAST(SUM(tf_s) AS HUGEINT) AS t_s FROM sc GROUP BY source),
tot AS (SELECT CAST(SUM(t_s) AS HUGEINT) AS t FROM tss),
pres AS (
    SELECT source,
           SUM(abs(tf_s * t - tf_c * t_s)) AS present_num,
           SUM(tf_c) AS present_tfc
    FROM sc JOIN ccs USING (tok) JOIN tss USING (source), tot
    GROUP BY source)
SELECT pres.source, CAST(t_s AS BIGINT) AS n_tokens,
       CAST(((present_num + t_s * (t - present_tfc)) * 10000)
            // (2 * t * t_s) AS BIGINT) AS tv_drift_bp
FROM pres JOIN tss USING (source), tot
ORDER BY pres.source""",
        # thumbnail_dedup: the stub-tier grid is a pure function of
        # sha256(payload) (each digest byte appears twice in the 64-cell
        # grid), so the digest is an equivalent group key the oracle can
        # use; the re-hosted overlay (+3,000,000) duplicates every fifth
        # image payload verbatim
        "thumbnail_dedup": """
WITH img AS (
    SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0),
un AS (
    SELECT media_id, text FROM img
    UNION ALL
    SELECT media_id + 3000000 AS media_id, text FROM img WHERE media_id % 5 = 0),
g AS (SELECT media_id, sha256(text) AS hx FROM un WHERE octet_length(encode(text)) > 0),
gr AS (SELECT hx, MIN(media_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS grp_size
       FROM g GROUP BY hx)
SELECT media_id, grp_size, CAST(media_id = keeper AS INT) AS canonical
FROM g JOIN gr USING (hx)
ORDER BY media_id""",
        # bpe_pair_counts: corpus collapses to the vocabulary first, pairs
        # enumerated over distinct words only, weighted by word frequency
        "bpe_pair_counts": """
WITH w AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents),
v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM w WHERE word <> '' GROUP BY word),
p AS (
    SELECT substr(word, i, 2) AS pair, wc
    FROM v, unnest(generate_series(1, greatest(length(word) - 1, 0))) AS t(i))
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair ORDER BY pair""",
        # source_leakage_matrix: distinct (source, gram) sets, gram-keyed
        # self-join, containment in exact basis points
        "source_leakage_matrix": f"""
WITH w AS (SELECT source, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
g AS (
    SELECT DISTINCT source,
           array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
    FROM w, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY source),
sh AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY 1, 2)
SELECT source_a, source_b, shared_grams,
       ta.n_grams AS grams_a, tb.n_grams AS grams_b,
       (shared_grams * 10000) // least(ta.n_grams, tb.n_grams) AS containment_bp
FROM sh
JOIN tot ta ON ta.source = sh.source_a
JOIN tot tb ON tb.source = sh.source_b
ORDER BY source_a, source_b""",
        # curriculum_stages: stage is a pure function of the length
        # histogram (docs strictly shorter), equal lengths never split
        "curriculum_stages": f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents),
h AS (SELECT n_tokens, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY n_tokens),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM h),
s AS (
    SELECT n_tokens,
           CAST(COALESCE(SUM(n_docs) OVER (ORDER BY n_tokens
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS docs_below
    FROM h)
SELECT d.doc_id, d.n_tokens,
       CAST(least((s.docs_below * {corpus.CURRICULUM_STAGES}) // n_total,
                  {corpus.CURRICULUM_STAGES - 1}) AS INT) AS stage
FROM d JOIN s USING (n_tokens), tot
ORDER BY doc_id""",
        # packed_doc_spans: within-shard offsets from the packing window
        "packed_doc_spans": f"""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents),
c AS (
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                - n_tokens AS BIGINT) AS tokens_before
    FROM t),
p AS (SELECT *, tokens_before // {corpus.PACK_BUDGET} AS shard_id FROM c)
SELECT lang, shard_id, doc_id,
       CAST(tokens_before - MIN(tokens_before) OVER (PARTITION BY lang, shard_id)
            AS BIGINT) AS begin_token,
       CAST(tokens_before - MIN(tokens_before) OVER (PARTITION BY lang, shard_id)
            + n_tokens AS BIGINT) AS end_token
FROM p ORDER BY lang, shard_id, doc_id""",
        # seqlen_buckets: integer log2 via binary-string length on both
        # engines; bucket bounds via BIGINT shifts (no float surface)
        "seqlen_buckets": """
WITH d AS (
    SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents),
b AS (
    SELECT CAST(length(printf('%b', n_tokens)) - 1 AS INT) AS bucket
    FROM d WHERE n_tokens > 0)
SELECT bucket,
       CAST(1 AS BIGINT) << bucket AS min_tokens,
       (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS max_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b GROUP BY bucket ORDER BY bucket""",
        "shard_stats": f"""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents),
c AS (
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                - n_tokens AS BIGINT) AS tokens_before
    FROM t),
g AS (
    SELECT lang, tokens_before // {corpus.PACK_BUDGET} AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM c GROUP BY lang, shard_id)
SELECT lang, shard_id, n_docs, n_tokens,
       (n_tokens * 10000) // {corpus.PACK_BUDGET} AS fill_bp,
       CAST(n_tokens > {corpus.PACK_BUDGET} AS INT) AS overflow
FROM g ORDER BY lang, shard_id""",
        "pii_redact": f"""
WITH dec AS (
    SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com or +1-555-' ||
           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS decorated
    FROM documents),
red AS (
    SELECT doc_id, decorated,
           regexp_replace(regexp_replace(decorated, '{corpus.EMAIL_RE}', '<EMAIL>', 'g'),
                          '{corpus.PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM dec)
SELECT doc_id,
       CAST(length(regexp_extract_all(decorated, '{corpus.EMAIL_RE}')) AS INT) AS n_emails,
       CAST(length(regexp_extract_all(decorated, '{corpus.PHONE_RE}')) AS INT) AS n_phones,
       substr(redacted, length(redacted) - 39, 40) AS redacted_tail
FROM red ORDER BY doc_id""",
        "decontaminate": f"""
WITH lab AS (
    SELECT doc_id, text,
           CASE WHEN bucket < {corpus.TRAIN_UPTO} THEN 'train'
                WHEN bucket < {corpus.VAL_UPTO} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, text,
               CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
                  + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
                  AS INT) AS bucket
        FROM documents)),
w AS (SELECT doc_id, split, string_split_regex(trim(text), '\\s+') AS ws FROM lab),
g AS (
    SELECT DISTINCT doc_id, split,
           array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
    FROM w, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
bench AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
cnt AS (
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM bench)) AS n_shared
    FROM g WHERE split = 'train' GROUP BY doc_id)
SELECT lab.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(n_shared, 0) > 0 AS INT) AS contaminated
FROM lab LEFT JOIN cnt USING (doc_id)
WHERE lab.split = 'train'
ORDER BY doc_id""",
        "source_mixture": f"""
WITH m AS (
    SELECT doc_id, source,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'mix')), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'mix')), 2, 1)) - 1)
              AS INT) AS bucket,
           CAST({corpus.MIX_BASE} + {corpus.MIX_STEP} * (CAST(substr(source, 4) AS INT) % {corpus.MIX_MOD}) AS INT) AS keep_threshold
    FROM documents)
SELECT doc_id, source, bucket, keep_threshold,
       CAST(bucket < keep_threshold AS INT) AS kept
FROM m ORDER BY doc_id""",
        "mixture_stats": f"""
WITH m AS (
    SELECT doc_id, source,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'mix')), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'mix')), 2, 1)) - 1)
              AS INT) AS bucket,
           CAST({corpus.MIX_BASE} + {corpus.MIX_STEP} * (CAST(substr(source, 4) AS INT) % {corpus.MIX_MOD}) AS INT) AS keep_threshold
    FROM documents)
SELECT source, keep_threshold,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(bucket < keep_threshold AS INT)) AS BIGINT) AS n_kept,
       (CAST(SUM(CAST(bucket < keep_threshold AS INT)) AS BIGINT) * 10000) // COUNT(*) AS achieved_bp
FROM m GROUP BY source, keep_threshold ORDER BY source""",
        "curation_funnel": f"""
WITH base AS (
    SELECT doc_id, text, source,
           len(string_split_regex(trim(text), '\\s+')) >= {corpus.QUAL_MIN_WORDS} AS q,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
              AS INT) AS sbucket,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'mix')), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text, 'mix')), 2, 1)) - 1)
              AS INT) AS mbucket,
           CAST({corpus.MIX_BASE} + {corpus.MIX_STEP} * (CAST(substr(source, 4) AS INT) % {corpus.MIX_MOD}) AS INT) AS thr
    FROM documents),
flags AS (
    SELECT doc_id, q,
           doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon,
           sbucket < {corpus.TRAIN_UPTO} AS is_train,
           mbucket < thr AS mixed
    FROM base),
w AS (
    SELECT doc_id, sbucket >= {corpus.VAL_UPTO} AS is_test,
           string_split_regex(trim(text), '\\s+') AS ws
    FROM base),
g AS (
    SELECT DISTINCT doc_id, is_test,
           array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
    FROM w, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
bench AS (SELECT DISTINCT gram FROM g WHERE is_test),
dirty AS (SELECT DISTINCT doc_id FROM g WHERE gram IN (SELECT gram FROM bench)),
ff AS (
    SELECT f.q, f.canon, f.is_train, f.mixed, d.doc_id IS NOT NULL AS dirty
    FROM flags f LEFT JOIN dirty d USING (doc_id)),
agg AS (
    SELECT COUNT(*) AS s0,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN q AND canon THEN 1 ELSE 0 END) AS BIGINT) AS s2,
           CAST(SUM(CASE WHEN q AND canon AND is_train THEN 1 ELSE 0 END) AS BIGINT) AS s3,
           CAST(SUM(CASE WHEN q AND canon AND is_train AND NOT dirty THEN 1 ELSE 0 END) AS BIGINT) AS s4,
           CAST(SUM(CASE WHEN q AND canon AND is_train AND NOT dirty AND mixed THEN 1 ELSE 0 END) AS BIGINT) AS s5
    FROM ff)
SELECT 0 AS stage_idx, 'raw' AS stage, s0 AS n_docs FROM agg
UNION ALL SELECT 1, 'quality', s1 FROM agg
UNION ALL SELECT 2, 'dedup', s2 FROM agg
UNION ALL SELECT 3, 'train', s3 FROM agg
UNION ALL SELECT 4, 'decontaminated', s4 FROM agg
UNION ALL SELECT 5, 'mixture', s5 FROM agg
ORDER BY stage_idx""",
        "boilerplate_blocks": f"""
WITH {_BOILER_CTES}
SELECT doc_id, block_idx, n_words, n_links, link_bp, text_density_x100,
       prev_words, next_words, is_content
FROM cls ORDER BY doc_id, block_idx""",
        "density_blocks": f"""
WITH {_BOILER_CTES}
SELECT doc_id, block_idx, n_words, link_bp, text_density_x100,
       prev_density_x100, next_density_x100, is_content_density
FROM cls ORDER BY doc_id, block_idx""",
        "justext_blocks": f"""
WITH {_JT_CTES}
SELECT doc_id, block_idx, n_words, n_chars, link_bp, stop_bp,
       cf_class, final_class
FROM jfinal ORDER BY doc_id, block_idx""",
        "justext_strip": f"""
WITH {_JT_CTES}
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN final_class = 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_good_blocks,
       CAST(SUM(CASE WHEN final_class = 'good' THEN n_words ELSE 0 END) AS BIGINT) AS n_good_words,
       CAST(SUM(CASE WHEN final_class = 'good' AND cf_class <> 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_context_promoted,
       COALESCE(string_agg(block_text, ' ' ORDER BY block_idx)
                FILTER (WHERE final_class = 'good'), '') AS main_text
FROM jfinal GROUP BY doc_id ORDER BY doc_id""",
        "ensemble_blocks": f"""
WITH {_ENS_CTES}
SELECT doc_id, block_idx, n_words, link_bp, vote_rules, vote_density,
       vote_justext,
       CAST(vote_rules + vote_density + vote_justext AS INT) AS votes,
       CAST(vote_rules + vote_density + vote_justext >= 2 AS INT) AS keep
FROM ens ORDER BY doc_id, block_idx""",
        "ensemble_strip": f"""
WITH {_ENS_CTES}
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN vote_rules + vote_density + vote_justext >= 2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_blocks,
       CAST(SUM(CASE WHEN vote_rules + vote_density + vote_justext >= 2
                THEN n_words ELSE 0 END) AS BIGINT) AS n_kept_words,
       CAST(SUM(CASE WHEN vote_rules + vote_density + vote_justext = 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous,
       CAST(SUM(CASE WHEN vote_rules + vote_density + vote_justext = 2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_majority_only,
       COALESCE(string_agg(block_text, ' ' ORDER BY block_idx)
                FILTER (WHERE vote_rules + vote_density + vote_justext >= 2),
                '') AS main_text
FROM ens GROUP BY doc_id ORDER BY doc_id""",
        "ensemble_strip_spans": f"""
WITH {_ENS_CTES},
off AS (
    SELECT doc_id, block_idx, block_text,
           (vote_rules + vote_density + vote_justext >= 2) AS keep,
           CAST(COALESCE(SUM(length(block_text) + 1) OVER
               (PARTITION BY doc_id ORDER BY block_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS span_start
    FROM ens),
canon AS (
    SELECT doc_id,
           array_to_string(string_split_regex(trim(text), '\\s+'), ' ') AS ct
    FROM documents)
SELECT o.doc_id, o.block_idx, o.span_start,
       CAST(o.span_start + length(o.block_text) AS BIGINT) AS span_end,
       substring(c.ct, CAST(o.span_start + 1 AS INT),
                 length(o.block_text)) AS block_text
FROM off o JOIN canon c USING (doc_id)
WHERE o.keep
ORDER BY doc_id, block_idx""",
        # the oracle never parses a payload: it derives the same 8x8
        # nearest-neighbor integer luma grid straight from the pixel rules
        # the Spark side encoded into real PPM/BMP/TIFF/GIF containers
        "codec_grid_parity": """
WITH t AS (
    SELECT doc_id, ty, tx,
           ((ty * 4) // 8) * 4 + ((tx * 4) // 8) AS p
    FROM documents,
         unnest(generate_series(0, 7)) AS a(ty),
         unnest(generate_series(0, 7)) AS b(tx)),
px AS (
    SELECT doc_id, ty, tx,
           CASE WHEN doc_id % 7 = 3 THEN
               (299 * ((3 * ((doc_id * 7 + p * 3) % 128)) % 256)
              + 587 * ((5 * ((doc_id * 7 + p * 3) % 128) + 1) % 256)
              + 114 * ((11 * ((doc_id * 7 + p * 3) % 128) + 2) % 256)) // 1000
           WHEN doc_id % 7 >= 5 THEN
               -- two-MCU DC-only grayscale JPEG (baseline arm 5 and
               -- progressive arm 6 decode to the same pixels): left MCU =
               -- 128 + DC1, right MCU (tx >= 4 of the 16-wide source)
               -- adds the DC diff
               128 + 4 + (doc_id * 7) % 4
                   + CASE WHEN tx >= 4 THEN 2 + (doc_id * 11) % 2 ELSE 0 END
           ELSE
               (299 * ((doc_id * 31 + p * 7) % 256)
              + 587 * ((doc_id * 17 + p * 11) % 256)
              + 114 * ((doc_id * 13 + p * 5) % 256)) // 1000
           END AS luma
    FROM t),
g AS (
    SELECT doc_id,
           CAST(SUM(luma) AS BIGINT) AS luma_sum,
           string_agg(CAST(luma AS VARCHAR), ',' ORDER BY ty * 8 + tx) AS luma_csv
    FROM px GROUP BY doc_id)
SELECT doc_id AS media_id,
       ['ppm', 'bmp', 'tiff', 'gif', 'png', 'jpeg', 'jpeg_prog'][CAST(doc_id % 7 AS INT) + 1] AS fmt,
       CAST(8 AS INT) AS grid_w, CAST(8 AS INT) AS grid_h,
       luma_sum, luma_csv, CAST(NULL AS VARCHAR) AS error
FROM g ORDER BY media_id""",
        "extractor_agreement": f"""
WITH {_BOILER_CTES}
SELECT doc_id, COUNT(*) AS n_blocks,
       CAST(SUM(is_content * is_content_density) AS BIGINT) AS n_both,
       CAST(SUM(is_content * (1 - is_content_density)) AS BIGINT) AS n_only_rules,
       CAST(SUM((1 - is_content) * is_content_density) AS BIGINT) AS n_only_density,
       CAST(SUM((1 - is_content) * (1 - is_content_density)) AS BIGINT) AS n_neither
FROM cls GROUP BY doc_id ORDER BY doc_id""",
        "boilerplate_strip": f"""
WITH {_BOILER_CTES}
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(is_content) AS BIGINT) AS n_content_blocks,
       CAST(SUM(CASE WHEN is_content = 1 THEN n_words ELSE 0 END) AS BIGINT) AS n_content_words,
       COALESCE(string_agg(block_text, ' ' ORDER BY block_idx) FILTER (WHERE is_content = 1), '') AS main_text
FROM cls GROUP BY doc_id ORDER BY doc_id""",
        "curation_funnel_v2": f"""
WITH {_BOILER_CTES},
strip AS (
    SELECT doc_id,
           CAST(SUM(is_content) AS BIGINT) AS nc,
           COALESCE(string_agg(block_text, ' ' ORDER BY block_idx)
                    FILTER (WHERE is_content = 1), '') AS mt
    FROM cls GROUP BY doc_id),
gws AS (SELECT doc_id, mt, string_split_regex(trim(mt), '\\s+') AS gw FROM strip),
gsig AS (
    SELECT doc_id,
           CAST(len(gw) AS INT) AS g_n_words,
           (CAST(list_sum(list_transform(gw, x -> length(x))) AS BIGINT) * 100)
               // len(gw) AS g_mlen,
           (CAST(len(list_distinct(gw)) AS BIGINT) * 10000) // len(gw) AS g_dbp,
           CAST(length(regexp_extract_all(lower(mt), '{EN_STOPWORDS}')) AS INT) AS g_n_stop
    FROM gws),
fl AS (
    SELECT s.doc_id,
           s.nc > 0 AS has_content,
           (g_n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
            AND g_mlen BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
            AND g_dbp >= {corpus.GOPHER_DISTINCT_MIN_BP}
            AND g_n_stop >= {corpus.GOPHER_STOP_MIN}) AS quality,
           s.doc_id = MIN(s.doc_id) OVER (PARTITION BY md5(s.mt)) AS canon
    FROM strip s JOIN gsig USING (doc_id)),
agg AS (
    SELECT COUNT(*) AS s0,
           CAST(SUM(CASE WHEN has_content THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN has_content AND quality THEN 1 ELSE 0 END) AS BIGINT) AS s2,
           CAST(SUM(CASE WHEN has_content AND quality AND canon THEN 1 ELSE 0 END) AS BIGINT) AS s3
    FROM fl)
SELECT 0 AS stage_idx, 'raw' AS stage, s0 AS n_docs FROM agg
UNION ALL SELECT 1, 'content', s1 FROM agg
UNION ALL SELECT 2, 'quality', s2 FROM agg
UNION ALL SELECT 3, 'dedup', s3 FROM agg
ORDER BY stage_idx""",
        "ngram_lm_counts": """
WITH ws AS (
    SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents),
bg AS (
    SELECT w[i] AS w1, w[i+1] AS w2
    FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)),
n12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2),
n1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1)
SELECT n12.w1, n12.w2, n12.n12, n1.n1,
       (n12.n12 * 10000) // n1.n1 AS cond_bp
FROM n12 JOIN n1 ON n12.w1 = n1.w1
ORDER BY n12.w1, n12.w2""",
        "vocab_coverage": f"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
counts AS (
    SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
ranked AS (
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS INT) AS rank,
           CAST(SUM(n) OVER (ORDER BY n DESC, token ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM counts)
SELECT rank, token, n, (cum * 10000) // total.total AS cum_bp
FROM ranked CROSS JOIN total
WHERE rank <= {corpus.VOCAB_TOP} ORDER BY rank""",
        "tokenize_ids": f"""
WITH toks0 AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
counts AS (
    SELECT token, COUNT(*) AS n FROM toks0 WHERE token <> '' GROUP BY token),
vocab AS (
    SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS INT) AS tok_id
    FROM counts ORDER BY n DESC, token ASC LIMIT {corpus.VOCAB_TOP}),
dtoks AS (
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS token
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
         unnest(generate_series(1, len(w))) AS t(i)
    WHERE w[i] <> ''),
tagged AS (
    SELECT d.doc_id, d.pos, COALESCE(v.tok_id, 0) AS tok_id
    FROM dtoks d LEFT JOIN vocab v ON d.token = v.token)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (CAST(SUM(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) * 10000)
           // COUNT(*) AS oov_bp,
       string_agg(CAST(tok_id AS VARCHAR), ' ' ORDER BY pos) AS ids_str
FROM tagged GROUP BY doc_id ORDER BY doc_id""",
        "line_dedup": f"""
WITH ws AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
segs AS (
    SELECT doc_id,
           CAST((i - 1) // {corpus.SEG_WORDS} AS INT) AS seg_idx,
           array_to_string(list_slice(w, i, i + {corpus.SEG_WORDS - 1}), ' ') AS seg
    FROM ws, unnest(generate_series(1, len(w), {corpus.SEG_WORDS})) AS t(i)),
ranked AS (
    SELECT doc_id, seg_idx, seg,
           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
    FROM segs)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '') AS dedup_text
FROM ranked GROUP BY doc_id ORDER BY doc_id""",
        "gopher_rules": f"""
WITH ws AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w FROM documents),
st AS (
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
           CAST(length(regexp_extract_all(lower(text), '{EN_STOPWORDS}')) AS INT) AS n_stop
    FROM ws),
sig AS (
    SELECT doc_id, n_words,
           CAST((sum_len * 100) // n_words AS BIGINT) AS mean_wlen_x100,
           CAST((n_distinct * 10000) // n_words AS BIGINT) AS distinct_bp,
           n_stop
    FROM st)
SELECT doc_id, n_words, mean_wlen_x100, distinct_bp, n_stop,
       CAST(n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS} AS INT) AS words_ok,
       CAST(mean_wlen_x100 BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100} AS INT) AS mean_len_ok,
       CAST(distinct_bp >= {corpus.GOPHER_DISTINCT_MIN_BP} AS INT) AS distinct_ok,
       CAST(n_stop >= {corpus.GOPHER_STOP_MIN} AS INT) AS stopword_ok,
       CAST(n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
            AND mean_wlen_x100 BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
            AND distinct_bp >= {corpus.GOPHER_DISTINCT_MIN_BP}
            AND n_stop >= {corpus.GOPHER_STOP_MIN} AS INT) AS pass_gopher
FROM sig ORDER BY doc_id""",
        # ---------------- dedup --------------------------------------------
        "dedup_exact": """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY canonical_id""",
        "minhash_signatures": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}
SELECT doc_id,
       {", ".join(f"list_min(list_transform(sh, h -> (h * {a} + {b}) % {MOD})) AS m{i}" for i, (a, b) in enumerate(MINHASH_AB))}
FROM hashed WHERE len(sh) > 0 ORDER BY doc_id""",
        "lsh_candidate_pairs": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES}
SELECT doc_a, doc_b FROM lsh_pairs ORDER BY doc_a, doc_b""",
        "dedup_clusters": f"""
WITH RECURSIVE {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES}, {_CC_CTES}
SELECT f.doc_id, f.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size
FROM final f JOIN sizes s USING (cluster_id)
ORDER BY f.doc_id""",
        "dedup_cluster_stats": f"""
WITH RECURSIVE {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES}, {_CC_CTES}
SELECT CAST(cluster_size AS BIGINT) AS size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS n_dropped
FROM sizes GROUP BY cluster_size ORDER BY size""",
        "dedup_survivors": f"""
WITH RECURSIVE {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES}, {_CC_CTES}
SELECT f.doc_id, CAST(s.cluster_size - 1 AS BIGINT) AS n_dupes_removed
FROM final f JOIN sizes s USING (cluster_id)
WHERE f.doc_id = f.cluster_id
ORDER BY f.doc_id""",
        "dedup_incremental": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES},
batch AS (SELECT doc_id FROM corpus WHERE doc_id >= {dedup.MUTANT_BASE}),
hits AS (
    SELECT doc_b AS doc_id,
           CAST(SUM(CASE WHEN doc_a < {dedup.MUTANT_BASE} THEN 1 ELSE 0 END) AS BIGINT) AS n_index_dups,
           CAST(SUM(CASE WHEN doc_a >= {dedup.MUTANT_BASE} THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dups
    FROM lsh_pairs WHERE doc_b >= {dedup.MUTANT_BASE} GROUP BY doc_b)
SELECT b.doc_id,
       CAST(COALESCE(n_index_dups, 0) AS BIGINT) AS n_index_dups,
       CAST(COALESCE(n_batch_dups, 0) AS BIGINT) AS n_batch_dups,
       CAST(COALESCE(n_index_dups, 0) = 0 AND COALESCE(n_batch_dups, 0) = 0 AS INT) AS admitted
FROM batch b LEFT JOIN hits USING (doc_id)
ORDER BY doc_id""",
        "lsh_drop_stats": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES},
bucket_sizes AS (
    SELECT band_id, h1, h2, COUNT(*) AS n_docs
    FROM bands GROUP BY band_id, h1, h2)
SELECT band_id,
       COUNT(*) AS n_buckets,
       CAST(MAX(n_docs) AS INT) AS max_bucket,
       CAST(SUM(greatest(n_docs - {_DEDUP_CAP}, 0)) AS BIGINT) AS n_dropped
FROM bucket_sizes GROUP BY band_id ORDER BY band_id""",
        "ngram_jaccard_pairs": f"""
WITH {_CORPUS},
shingled AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(len(ws) - 2, 0)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus)),
sh AS (
    SELECT DISTINCT doc_id, unnest(shingles) AS s FROM shingled),
sh2 AS (SELECT doc_id, s FROM sh WHERE s <> ''),
-- DF cutoff: shingles in > DF_MAX docs leave the representation entirely
dfok AS (SELECT s FROM (SELECT s, COUNT(*) AS c FROM sh2 GROUP BY s) t
         WHERE c <= {dedup.DF_MAX}),
sh3 AS (SELECT doc_id, sh2.s FROM sh2 JOIN dfok ON sh2.s = dfok.s),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh3 GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.6
ORDER BY doc_a, doc_b""",
        "simhash_docs": f"""
WITH {_CORPUS},
shingled AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(len(ws) - 2, 0)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus)),
h AS (
    SELECT doc_id,
           list_reduce(
               list_transform(generate_series(1, length(s)),
                              i -> CAST(ascii(s[i]) AS BIGINT)),
               (acc, c) -> (acc * {BASE} + c) % {MOD}) AS h
    FROM (SELECT doc_id, unnest(shingles) AS s FROM shingled) t WHERE s <> ''),
bits AS (
    SELECT doc_id,
           {", ".join(f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(16))}
    FROM h GROUP BY doc_id)
SELECT doc_id,
       CAST({" + ".join(f"CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))} AS BIGINT) AS simhash
FROM bits ORDER BY doc_id""",
        # ---------------- similarity ----------------------------------------
        "array_stats": """
SELECT vec_id,
       CAST(list_min(embedding) AS DOUBLE) AS emb_min,
       CAST(list_max(embedding) AS DOUBLE) AS emb_max,
       CAST(len(embedding) AS INT) AS dim,
       CAST(list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS qsum
FROM embeddings ORDER BY vec_id""",
        "ann_bruteforce_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                    i -> CAST(round(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM embeddings e CROSS JOIN q
    WHERE q.query_id <> e.vec_id)
SELECT query_id, rank, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored) t
WHERE rank <= 5 ORDER BY query_id, rank""",
        "ann_lsh_buckets": f"""
WITH {_sql_bands_cte("embeddings", cast_double=True)},
q AS (SELECT vec_id AS query_id, band, bucket FROM bands WHERE vec_id < {similarity.N_QUERIES}),
cand AS (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
    FROM bands c JOIN q ON c.band = q.band AND c.bucket = q.bucket
    WHERE q.query_id <> c.vec_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, len(qe.embedding)),
                    i -> CAST(round(CAST(qe.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(ce.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
SELECT query_id, rank, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored) t
WHERE rank <= {similarity.TOP_K} ORDER BY query_id, rank""",
        "ann_ivf_topk": f"""
WITH cent AS (
    SELECT vec_id AS cid, embedding AS cemb FROM embeddings
    WHERE vec_id < {similarity.N_CENTROIDS}),
assign AS (
    SELECT e.vec_id, c.cid,
           CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
                i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    - CAST(round(CAST(c.cemb[i] AS DOUBLE) * 1000) AS BIGINT))
                   * (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    - CAST(round(CAST(c.cemb[i] AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS d
    FROM embeddings e CROSS JOIN cent c),
ranked AS (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM assign),
lists AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid FROM ranked
           WHERE vec_id < {similarity.N_QUERIES} AND rn <= {similarity.N_PROBE}),
cand AS (
    SELECT DISTINCT p.query_id, l.vec_id AS neighbor_id
    FROM probes p JOIN lists l ON l.cid = p.cid
    WHERE l.vec_id <> p.query_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, len(qe.embedding)),
                    i -> CAST(round(CAST(qe.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(ce.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
SELECT query_id, rank, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored) t
WHERE rank <= {similarity.TOP_K} ORDER BY query_id, rank""",
        "pq_encode": f"""
WITH {_PQ_CTES}
SELECT vec_id, subspace, code, d FROM best WHERE rn = 1
ORDER BY vec_id, subspace""",
        "ann_pq_topk": f"""
WITH {_PQ_CTES},
enc AS (SELECT vec_id, subspace, code FROM best WHERE rn = 1),
dtab AS (
    SELECT s.vec_id AS query_id, s.subspace, c.code,
           {_pq_qdist_sql('s.sub', 'c.csub')} AS dpart
    FROM subs s JOIN cb c USING (subspace)
    WHERE s.vec_id < {similarity.N_QUERIES}),
adist AS (
    SELECT d.query_id, e.vec_id,
           CAST(SUM(d.dpart) AS BIGINT) AS adist
    FROM enc e JOIN dtab d ON d.subspace = e.subspace AND d.code = e.code
    WHERE e.vec_id <> d.query_id
    GROUP BY d.query_id, e.vec_id)
SELECT query_id, rank, neighbor_id, adist FROM (
    SELECT query_id, vec_id AS neighbor_id, adist,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
    FROM adist) t
WHERE rank <= {similarity.TOP_K} ORDER BY query_id, rank""",
        "ann_pq_recall": f"""
WITH {_PQ_CTES},
enc AS (SELECT vec_id, subspace, code FROM best WHERE rn = 1),
dtab AS (
    SELECT s.vec_id AS query_id, s.subspace, c.code,
           {_pq_qdist_sql('s.sub', 'c.csub')} AS dpart
    FROM subs s JOIN cb c USING (subspace)
    WHERE s.vec_id < {similarity.N_QUERIES}),
adist AS (
    SELECT d.query_id, e.vec_id,
           CAST(SUM(d.dpart) AS BIGINT) AS adist
    FROM enc e JOIN dtab d ON d.subspace = e.subspace AND d.code = e.code
    WHERE e.vec_id <> d.query_id
    GROUP BY d.query_id, e.vec_id),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist ASC, vec_id ASC) AS rank
        FROM adist) t
    WHERE rank <= {similarity.TOP_K}),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   {_pq_qdist_sql('q.embedding', 'e.embedding', 'len(q.embedding)')} ASC,
                   e.vec_id ASC) AS rank
        FROM embeddings q CROSS JOIN embeddings e
        WHERE q.vec_id < {similarity.N_QUERIES} AND e.vec_id <> q.vec_id) t
    WHERE rank <= {similarity.TOP_K})
SELECT 'pq' AS family, t.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(*) FILTER (WHERE a.neighbor_id IS NOT NULL) AS BIGINT) AS n_hit,
       (CAST(COUNT(*) FILTER (WHERE a.neighbor_id IS NOT NULL) AS BIGINT) * 10000)
           // CAST(COUNT(*) AS BIGINT) AS recall_bp
FROM truth t LEFT JOIN approx a
     ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id ORDER BY t.query_id""",
        "ivfadc_encode": f"""
WITH {_IVFADC_CTES}
SELECT vec_id, cid, subspace, code, d FROM renc
ORDER BY vec_id, subspace""",
        "ann_ivfadc_topk": f"""
WITH {_IVFADC_CTES},
{_IVFADC_ADIST}
SELECT query_id, rank, neighbor_id, adist FROM (
    SELECT query_id, vec_id AS neighbor_id, adist,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
    FROM adist) t
WHERE rank <= {similarity.TOP_K} ORDER BY query_id, rank""",
        "ann_ivfadc_recall": f"""
WITH {_IVFADC_CTES},
{_IVFADC_ADIST},
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist ASC, vec_id ASC) AS rank
        FROM adist) t
    WHERE rank <= {similarity.TOP_K}),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   {_pq_qdist_sql('q.embedding', 'e.embedding', 'len(q.embedding)')} ASC,
                   e.vec_id ASC) AS rank
        FROM embeddings q CROSS JOIN embeddings e
        WHERE q.vec_id < {similarity.N_QUERIES} AND e.vec_id <> q.vec_id) t
    WHERE rank <= {similarity.TOP_K})
SELECT 'ivfadc' AS family, t.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(*) FILTER (WHERE a.neighbor_id IS NOT NULL) AS BIGINT) AS n_hit,
       (CAST(COUNT(*) FILTER (WHERE a.neighbor_id IS NOT NULL) AS BIGINT) * 10000)
           // CAST(COUNT(*) AS BIGINT) AS recall_bp
FROM truth t LEFT JOIN approx a
     ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id ORDER BY t.query_id""",
        "embedding_cosine_dups": f"""
WITH {_VEC_CORPUS},
{_VEC_NORMS},
{_sql_bands_cte("corpus", cast_double=False)},
ranked AS (
    SELECT vec_id, band, bucket,
           ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
    FROM bands),
capped AS (SELECT vec_id, band, bucket FROM ranked WHERE rn <= {K_CAP}),
pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cosine FROM (
    SELECT p.vec_a, p.vec_b,
           round(list_sum(list_transform(generate_series(1, len(na.embedding)),
                 i -> CAST(round(na.embedding[i] * 1000) AS BIGINT)
                    * CAST(round(nb.embedding[i] * 1000) AS BIGINT)))
                 / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
    FROM pairs p
    JOIN norms na ON na.vec_id = p.vec_a
    JOIN norms nb ON nb.vec_id = p.vec_b) t
WHERE cosine >= 0.99 ORDER BY vec_a, vec_b""",
        "kmeans_step": f"""
WITH cent AS (
    SELECT vec_id AS cid, embedding AS cemb FROM embeddings
    WHERE vec_id < {similarity.N_KMEANS}),
assign AS (
    SELECT e.vec_id, c.cid,
           CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
                i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    - CAST(round(CAST(c.cemb[i] AS DOUBLE) * 1000) AS BIGINT))
                   * (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    - CAST(round(CAST(c.cemb[i] AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS d
    FROM embeddings e CROSS JOIN cent c),
best AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
        FROM assign) t WHERE rn = 1),
comp AS (
    SELECT b.cid,
           generate_subscripts(e.embedding, 1) - 1 AS pos,
           CAST(round(CAST(unnest(e.embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
    FROM embeddings e JOIN best b USING (vec_id))
SELECT cid, CAST(pos AS INT) AS pos, COUNT(*) AS n_assigned,
       round(SUM(q) / COUNT(*) / 1000.0, 6) AS centroid
FROM comp GROUP BY cid, pos ORDER BY cid, pos""",
        "semantic_decontaminate": f"""
WITH {_VEC_CORPUS},
{_VEC_NORMS},
{_sql_bands_cte("corpus", cast_double=False)},
t AS (SELECT vec_id AS test_id, band, bucket FROM bands
      WHERE vec_id >= {similarity.SEMDECON_BASE}),
c AS (
    SELECT DISTINCT r.vec_id AS train_id, t.test_id
    FROM bands r JOIN t ON r.band = t.band AND r.bucket = t.bucket
    WHERE r.vec_id < {similarity.SEMDECON_BASE}),
scored AS (
    SELECT c.train_id, c.test_id,
           round(list_sum(list_transform(generate_series(1, len(na.embedding)),
                 i -> CAST(round(na.embedding[i] * 1000) AS BIGINT)
                    * CAST(round(nb.embedding[i] * 1000) AS BIGINT)))
                 / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
    FROM c
    JOIN norms na ON na.vec_id = c.train_id
    JOIN norms nb ON nb.vec_id = c.test_id),
hits AS (
    SELECT train_id, COUNT(*) AS n_near_test, MAX(cosine) AS max_cosine
    FROM scored WHERE cosine >= {similarity.SEMDECON_COS} GROUP BY train_id)
SELECT n.vec_id,
       CAST(COALESCE(h.n_near_test, 0) AS BIGINT) AS n_near_test,
       COALESCE(h.max_cosine, 0.0) AS max_cosine,
       CAST(COALESCE(h.n_near_test, 0) > 0 AS INT) AS contaminated
FROM norms n LEFT JOIN hits h ON h.train_id = n.vec_id
WHERE n.vec_id < {similarity.SEMDECON_BASE}
ORDER BY n.vec_id""",
        "lsh_bucket_stats": f"""
WITH {_VEC_CORPUS},
{_sql_bands_cte("corpus", cast_double=False)},
bucket_sizes AS (
    SELECT band, bucket, COUNT(*) AS n_ids FROM bands GROUP BY band, bucket)
SELECT band,
       COUNT(*) AS n_buckets,
       CAST(MAX(n_ids) AS INT) AS max_bucket,
       CAST(SUM(greatest(n_ids - {K_CAP}, 0)) AS BIGINT) AS n_dropped
FROM bucket_sizes GROUP BY band ORDER BY band""",
        "label_centroids": """
WITH comp AS (
    SELECT label,
           generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
    FROM embeddings)
SELECT label, CAST(pos AS INT) AS pos, COUNT(*) AS n_vectors,
       round(SUM(q) / COUNT(*) / 1000.0, 6) AS centroid
FROM comp GROUP BY label, pos ORDER BY label, pos""",
        # ---------------- multimodal ----------------------------------------
        "media_meta_sql": """
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       substr(sha256(text), 1, 16) AS sha,
       CAST(n_chars % 640 + 16 AS INT) AS declared_w,
       CAST(n_chars % 480 + 16 AS INT) AS declared_h
FROM documents ORDER BY media_id""",
        # ---------------- round-3 additions ---------------------------------
        "lsh_jaccard_verify": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES},
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM hashed WHERE len(sh) > 0)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union,
       CAST((len(list_intersect(a.sh, b.sh)) * 10000)
            // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS BIGINT) AS jaccard_bp,
       CAST((len(list_intersect(a.sh, b.sh)) * 10000)
            // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= {dedup.JACCARD_MIN_BP} AS INT) AS verified
FROM lsh_pairs p
JOIN dsh a ON a.doc_id = p.doc_a
JOIN dsh b ON b.doc_id = p.doc_b
ORDER BY doc_a, doc_b""",
        "curation_funnel_v3": f"""
WITH RECURSIVE {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES}, {_CC_CTES},
gws AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w FROM corpus),
gst AS (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
           CAST(length(regexp_extract_all(lower(text), '{EN_STOPWORDS}')) AS BIGINT) AS n_stop
    FROM gws),
gop AS (
    SELECT doc_id,
           (n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS})
           AND ((sum_len * 100) // n_words
                BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100})
           AND ((n_distinct * 10000) // n_words >= {corpus.GOPHER_DISTINCT_MIN_BP})
           AND (n_stop >= {corpus.GOPHER_STOP_MIN}) AS q
    FROM gst),
clab AS (
    SELECT doc_id, text,
           CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
              AS INT) AS bucket
    FROM corpus),
cw AS (
    SELECT doc_id, bucket >= {corpus.VAL_UPTO} AS is_test,
           string_split_regex(trim(text), '\\s+') AS ws
    FROM clab),
cg AS (
    SELECT DISTINCT doc_id, is_test,
           array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
    FROM cw, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
cbench AS (SELECT DISTINCT gram FROM cg WHERE is_test),
cdirty AS (SELECT DISTINCT doc_id FROM cg WHERE gram IN (SELECT gram FROM cbench)),
fff AS (
    SELECT g.q AS q,
           f.cluster_id = f.doc_id AS canon,
           d.doc_id IS NULL AS clean
    FROM gop g JOIN final f USING (doc_id) LEFT JOIN cdirty d USING (doc_id)),
agg AS (
    SELECT COUNT(*) AS s0,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN q AND canon THEN 1 ELSE 0 END) AS BIGINT) AS s2,
           CAST(SUM(CASE WHEN q AND canon AND clean THEN 1 ELSE 0 END) AS BIGINT) AS s3
    FROM fff)
SELECT 0 AS stage_idx, 'raw' AS stage, s0 AS n_docs FROM agg
UNION ALL SELECT 1, 'quality', s1 FROM agg
UNION ALL SELECT 2, 'neardup', s2 FROM agg
UNION ALL SELECT 3, 'decontaminated', s3 FROM agg
ORDER BY stage_idx""",
        "token_rarity": """
WITH t AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
    FROM documents),
tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
dfc AS (SELECT tok, COUNT(*) AS df FROM tt GROUP BY tok),
pd AS (
    SELECT doc_id, COUNT(*) AS n_distinct_tokens, CAST(SUM(df) AS BIGINT) AS sum_df
    FROM tt JOIN dfc USING (tok) GROUP BY doc_id)
SELECT doc_id,
       CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
       sum_df,
       (sum_df * 100) // n_distinct_tokens AS mean_df_x100
FROM pd ORDER BY doc_id""",
        "retention_cohorts": """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
fc AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
       COUNT(*) AS n_users
FROM ud JOIN fc USING (user_id)
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset""",
        "minhash_jaccard_estimate": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES}
SELECT p.doc_a, p.doc_b,
       CAST({dedup.n_match_sql("a.m", "b.m")} AS BIGINT) AS n_match,
       CAST(({dedup.n_match_sql("a.m", "b.m")} * 10000)
            // {len(MINHASH_AB)} AS BIGINT) AS est_jaccard_bp
FROM lsh_pairs p
JOIN sigs a ON a.doc_id = p.doc_a
JOIN sigs b ON b.doc_id = p.doc_b
ORDER BY doc_a, doc_b""",
        "minhash_band_sweep": _band_sweep_sql(),
        # cross-family Venn: each family's pair pipeline restated as CTEs
        # (LSH bands from _LSH_PAIR_CTES; n-gram Jaccard and SimHash blocking
        # re-derived from the shared shingle frames), merged on the pair key
        "dedup_family_agreement": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES},
nsh AS (SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, unnest(shingles) AS s FROM shingled) t WHERE s <> ''),
ndfok AS (SELECT s FROM (SELECT s, COUNT(*) AS c FROM nsh GROUP BY s) t
          WHERE c <= {dedup.DF_MAX}),
nsh3 AS (SELECT doc_id, nsh.s FROM nsh JOIN ndfok ON nsh.s = ndfok.s),
nsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM nsh3 GROUP BY doc_id),
ninter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM nsh3 a JOIN nsh3 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id),
ng_pairs AS (
    SELECT doc_a, doc_b FROM ninter
    JOIN nsizes sa ON sa.doc_id = doc_a
    JOIN nsizes sb ON sb.doc_id = doc_b
    WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.6),
shh AS (SELECT doc_id, unnest(sh) AS h FROM hashed),
sbits AS (
    SELECT doc_id,
           {", ".join(f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(16))}
    FROM shh GROUP BY doc_id),
sfp AS (
    SELECT doc_id,
           CAST({" + ".join(f"CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))} AS BIGINT) AS simhash
    FROM sbits),
scap AS (
    SELECT doc_id, simhash FROM (
        SELECT doc_id, simhash,
               ROW_NUMBER() OVER (PARTITION BY simhash ORDER BY doc_id) AS rn
        FROM sfp) WHERE rn <= {_DEDUP_CAP}),
sim_pairs AS (
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM scap l JOIN scap r
      ON l.simhash = r.simhash AND l.doc_id < r.doc_id),
u AS (
    SELECT doc_a, doc_b, 1 AS in_lsh, 0 AS in_ngram, 0 AS in_simhash FROM lsh_pairs
    UNION ALL
    SELECT doc_a, doc_b, 0 AS in_lsh, 1 AS in_ngram, 0 AS in_simhash FROM ng_pairs
    UNION ALL
    SELECT doc_a, doc_b, 0 AS in_lsh, 0 AS in_ngram, 1 AS in_simhash FROM sim_pairs),
fl AS (
    SELECT doc_a, doc_b, MAX(in_lsh) AS in_lsh, MAX(in_ngram) AS in_ngram,
           MAX(in_simhash) AS in_simhash
    FROM u GROUP BY doc_a, doc_b)
SELECT CAST(in_lsh AS INT) AS in_lsh, CAST(in_ngram AS INT) AS in_ngram,
       CAST(in_simhash AS INT) AS in_simhash,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM fl GROUP BY in_lsh, in_ngram, in_simhash
ORDER BY in_lsh, in_ngram, in_simhash""",
        "substring_dupes": _SUBSTRING_DUPES_SQL,
        # the hash-compressed production twin is value-identical (window
        # counts depend only on window EQUALITY, which xxhash64 preserves
        # modulo 64-bit collisions) — same oracle verbatim
        "substring_dupes_fast": _SUBSTRING_DUPES_SQL,
        # fast_parity: Spark computes per-pair exact Jaccard from
        # xxhash64-hashed shingle sets; the oracle recomputes the same
        # integers from the raw shingle STRINGS on the same (portable,
        # SQL-reproducible) candidate list — any divergence in the fast
        # path's tokenization/hashing/set arithmetic mismatches pair by pair
        "fast_parity": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES}, {_LSH_PAIR_CTES},
dss AS (
    SELECT doc_id, list_distinct(shingles) AS ss
    FROM shingled WHERE len(shingles) > 0)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS n_inter,
       CAST(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS BIGINT) AS n_union,
       CAST((len(list_intersect(a.ss, b.ss)) * 10000)
            // (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) AS BIGINT) AS jaccard_bp
FROM lsh_pairs p
JOIN dss a ON a.doc_id = p.doc_a
JOIN dss b ON b.doc_id = p.doc_b
ORDER BY doc_a, doc_b""",
        # token_surprisal: floor(log2(n_docs/df)) computed as binary-string
        # length on BOTH engines (length(bin(x))-1 / length(printf('%b',x))-1)
        # — integer-exact, no libm log surface
        "token_surprisal": """
WITH t AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
    FROM documents),
tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
dfc AS (SELECT tok, COUNT(*) AS df FROM tt GROUP BY tok),
bits AS (
    SELECT tok, CAST(length(printf('%b', n_docs // df)) - 1 AS BIGINT) AS bits
    FROM dfc, tot),
pd AS (
    SELECT doc_id, COUNT(*) AS n_distinct_tokens, CAST(SUM(bits) AS BIGINT) AS sum_bits
    FROM tt JOIN bits USING (tok) GROUP BY doc_id)
SELECT doc_id,
       CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
       sum_bits,
       (sum_bits * 100) // n_distinct_tokens AS mean_bits_x100
FROM pd ORDER BY doc_id""",
        # bloom_decon_audit: n_train / n_exact_contaminated re-derived
        # independently; n_missed_by_bloom pinned as the constant 0 a Bloom
        # filter structurally guarantees (no false negatives) — the Spark
        # side computes it for real from might_contain verdicts
        "bloom_decon_audit": f"""
WITH lab AS (
    SELECT doc_id, text,
           CASE WHEN bucket < {corpus.TRAIN_UPTO} THEN 'train'
                WHEN bucket < {corpus.VAL_UPTO} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, text,
               CAST((instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 1, 1)) - 1) * 16
                  + (instr('0123456789abcdef', substr(md5(concat_ws(':', doc_id, text)), 2, 1)) - 1)
                  AS INT) AS bucket
        FROM documents)),
w AS (SELECT doc_id, split, string_split_regex(trim(text), '\\s+') AS ws FROM lab),
g AS (
    SELECT DISTINCT doc_id, split,
           array_to_string(list_slice(ws, i, i + {corpus.DECON_N - 1}), ' ') AS gram
    FROM w, unnest(generate_series(1, greatest(len(ws) - {corpus.DECON_N - 1}, 0))) AS t(i)),
bench AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
exact AS (
    SELECT DISTINCT doc_id FROM g
    WHERE split = 'train' AND gram IN (SELECT gram FROM bench))
SELECT CAST((SELECT COUNT(*) FROM lab WHERE split = 'train') AS BIGINT) AS n_train,
       CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact_contaminated,
       CAST(0 AS BIGINT) AS n_missed_by_bloom""",
        # ann_recall_audit: the brute-force, IVF, and banded-LSH pipelines
        # restated as CTEs (verbatim semantics of the three green per-query
        # oracles), then recall@k per family as exact integer counts
        "ann_recall_audit": f"""
WITH {_sql_bands_cte("embeddings", cast_double=True)},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {similarity.N_QUERIES}),
bscored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                    i -> CAST(round(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM embeddings e CROSS JOIN q
    WHERE q.query_id <> e.vec_id),
brute AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM bscored) t
    WHERE rank <= {similarity.TOP_K}),
cent AS (
    SELECT vec_id AS cid, embedding AS cemb FROM embeddings
    WHERE vec_id < {similarity.N_CENTROIDS}),
assign AS (
    SELECT e.vec_id, c.cid,
           CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
                i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    - CAST(round(CAST(c.cemb[i] AS DOUBLE) * 1000) AS BIGINT))
                   * (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    - CAST(round(CAST(c.cemb[i] AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS d
    FROM embeddings e CROSS JOIN cent c),
ranked AS (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM assign),
lists AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid FROM ranked
           WHERE vec_id < {similarity.N_QUERIES} AND rn <= {similarity.N_PROBE}),
cand AS (
    SELECT DISTINCT p.query_id, l.vec_id AS neighbor_id
    FROM probes p JOIN lists l ON l.cid = p.cid
    WHERE l.vec_id <> p.query_id),
iscored AS (
    SELECT cand.query_id, cand.neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, len(qe.embedding)),
                    i -> CAST(round(CAST(qe.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(ce.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
ivf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM iscored) t
    WHERE rank <= {similarity.TOP_K}),
lq AS (SELECT vec_id AS query_id, band, bucket FROM bands WHERE vec_id < {similarity.N_QUERIES}),
lcand AS (
    SELECT DISTINCT lq.query_id, c.vec_id AS neighbor_id
    FROM bands c JOIN lq ON c.band = lq.band AND c.bucket = lq.bucket
    WHERE lq.query_id <> c.vec_id),
lscored AS (
    SELECT lcand.query_id, lcand.neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, len(qe.embedding)),
                    i -> CAST(round(CAST(qe.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                       * CAST(round(CAST(ce.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
    FROM lcand
    JOIN embeddings qe ON qe.vec_id = lcand.query_id
    JOIN embeddings ce ON ce.vec_id = lcand.neighbor_id),
lsh AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM lscored) t
    WHERE rank <= {similarity.TOP_K}),
ivf_hits AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM brute JOIN ivf USING (query_id, neighbor_id) GROUP BY query_id),
lsh_hits AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM brute JOIN lsh USING (query_id, neighbor_id) GROUP BY query_id),
base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM brute GROUP BY query_id)
SELECT 'ivf' AS family, base.query_id, k,
       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       CAST((COALESCE(n_hit, 0) * 10000) // k AS BIGINT) AS recall_bp
FROM base LEFT JOIN ivf_hits USING (query_id)
UNION ALL
SELECT 'lsh' AS family, base.query_id, k,
       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       CAST((COALESCE(n_hit, 0) * 10000) // k AS BIGINT) AS recall_bp
FROM base LEFT JOIN lsh_hits USING (query_id)
ORDER BY family, query_id""",
        # text_normalize / normalized_dedup: the normalization chain must be
        # IDENTICAL on both engines — Spark regexp_replace is replace-all by
        # default, DuckDB needs the 'g' flag
        "text_normalize": """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
FROM documents ORDER BY doc_id""",
        "normalized_dedup": """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, upper(text) || '  !!' AS text
    FROM documents WHERE doc_id % 3 = 2),
n AS (
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS nt
    FROM corpus),
g AS (SELECT nt, MIN(doc_id) AS keeper, COUNT(*) AS grp_size FROM n GROUP BY nt)
SELECT n.doc_id,
       CAST(grp_size AS BIGINT) AS grp_size,
       CAST(n.doc_id = keeper AS INT) AS canonical
FROM n JOIN g USING (nt) ORDER BY doc_id""",
        "inverted_index": f"""
WITH wd AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents),
g AS (
    SELECT doc_id, array_to_string(list_slice(w, i, i + {corpus.IDX_N - 1}), ' ') AS term
    FROM wd, unnest(generate_series(1, greatest(len(w) - {corpus.IDX_N - 1}, 0))) AS t(i)),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY doc_id, term),
dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
kept AS (
    SELECT t.doc_id, t.term, t.tf, d.df
    FROM tf t JOIN dfc d USING (term) WHERE d.df <= {corpus.IDX_DF_MAX}),
rk AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank
    FROM kept)
SELECT term, CAST(rank AS BIGINT) AS rank, doc_id,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM rk WHERE rank <= {corpus.IDX_TOPK} ORDER BY term, rank""",
        "event_outliers": """
WITH ev AS (
    SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS v100
    FROM events),
st AS (
    SELECT event_type, COUNT(*) AS n, CAST(SUM(v100) AS HUGEINT) AS s,
           CAST(SUM(v100 * v100) AS HUGEINT) AS q
    FROM ev GROUP BY event_type)
SELECT event_id, ev.event_type, v100,
       CAST(CASE WHEN (CAST(n AS HUGEINT) * v100 - s) * (CAST(n AS HUGEINT) * v100 - s)
                      > 9 * (CAST(n AS HUGEINT) * q - s * s)
            THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM ev JOIN st USING (event_type)
ORDER BY event_id""",
        # stub-tier grids/frames are digest-derived, so the oracle
        # re-derives them from sha256 hex pairs (the text payloads of the
        # driver's media table never carry real raster magics; the REAL
        # decode/resize tier is value-tested in tests/test_multimodal.py)
        # audio_features: the synthetic payloads are text bytes (never RIFF),
        # so the oracle re-derives the digest-seeded stub tier; the REAL
        # RIFF/PCM WAV decode is value-tested in tests/test_multimodal.py
        # with independently-computed expected stats
        "audio_features": f"""
WITH m AS (
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS hx
    FROM documents WHERE doc_id % 3 = 1),
d AS (
    SELECT media_id, n_bytes,
           ([8000, 16000, 22050, 44100])[{_hxb(0)} % 4 + 1] AS sample_rate,
           {_hxb(1)} % 2 + 1 AS n_channels,
           {_hxb(2)} * 256 + {_hxb(3)} + 1 AS frames,
           ({_hxb(4)} * 256 + {_hxb(5)}) % 32768 AS peak_abs,
           {_hxb(6)} * 16777216 + {_hxb(7)} * 65536 + {_hxb(8)} * 256 + {_hxb(9)} AS sumsq
    FROM m)
SELECT media_id,
       CAST(n_bytes AS INT) AS n_bytes,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(sample_rate AS INT) END AS sample_rate,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(n_channels AS INT) END AS n_channels,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(frames AS BIGINT) END AS n_samples,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(peak_abs AS INT) END AS peak_abs,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(sumsq AS BIGINT) END AS sumsq,
       CASE WHEN n_bytes = 0 THEN NULL
            ELSE CAST(frames * 1000 // sample_rate AS BIGINT) END AS duration_ms,
       CASE WHEN n_bytes = 0 THEN 'decode_failed: empty payload'
            ELSE CAST(NULL AS VARCHAR) END AS error
FROM d ORDER BY media_id""",
        # video_features: the synthetic payloads are text bytes (never the
        # YUV4MPEG2 magic), so the oracle re-derives the digest-seeded stub
        # tier; the REAL Y4M decode (header parse + FRAME walk, exact integer
        # luma stats) is value-tested in tests/test_multimodal.py with
        # independently-computed expected stats
        "video_features": f"""
WITH m AS (
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS hx
    FROM documents WHERE doc_id % 3 = 2),
d AS (
    SELECT media_id, n_bytes,
           {_hxb(0)} * 4 + 16 AS width,
           {_hxb(1)} * 4 + 16 AS height,
           ([24, 25, 30, 60])[{_hxb(2)} % 4 + 1] AS fps_num,
           {_hxb(3)} * 256 + {_hxb(4)} + 1 AS frames,
           {_hxb(5)} * 16777216 + {_hxb(6)} * 65536 + {_hxb(7)} * 256 + {_hxb(8)} AS y_sum,
           {_hxb(9)} AS y_peak
    FROM m)
SELECT media_id,
       CAST(n_bytes AS INT) AS n_bytes,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(width AS INT) END AS width,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(height AS INT) END AS height,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(fps_num AS INT) END AS fps_num,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(1 AS INT) END AS fps_den,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(frames AS BIGINT) END AS n_frames,
       CASE WHEN n_bytes = 0 THEN NULL
            ELSE CAST(frames * 1000 // fps_num AS BIGINT) END AS duration_ms,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(y_sum AS BIGINT) END AS y_sum,
       CASE WHEN n_bytes = 0 THEN NULL ELSE CAST(y_peak AS INT) END AS y_peak,
       CASE WHEN n_bytes = 0 THEN 'decode_failed: empty payload'
            ELSE CAST(NULL AS VARCHAR) END AS error
FROM d ORDER BY media_id""",
        "media_resize": f"""
WITH m AS (
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           sha256(text) AS hx,
           octet_length(encode(text)) AS n_bytes
    FROM documents),
g AS (
    SELECT media_id, media_type, n_bytes,
           list_transform(
               generate_series(0, {multimodal.THUMB * multimodal.THUMB - 1}),
               i -> (instr('0123456789abcdef', substr(hx, (i % 32) * 2 + 1, 1)) - 1) * 16
                  + (instr('0123456789abcdef', substr(hx, (i % 32) * 2 + 2, 1)) - 1)
           ) AS grid
    FROM m)
SELECT media_id, media_type,
       CAST({multimodal.THUMB} AS INT) AS grid_w,
       CAST({multimodal.THUMB} AS INT) AS grid_h,
       CASE WHEN n_bytes = 0 THEN NULL
            ELSE array_to_string(list_transform(grid, v -> CAST(v AS VARCHAR)), ',')
       END AS luma_csv,
       CASE WHEN n_bytes = 0 THEN NULL
            ELSE CAST(list_sum(grid) AS BIGINT) END AS luma_sum,
       CASE WHEN n_bytes = 0 THEN 'resize_failed: empty payload'
            ELSE CAST(NULL AS VARCHAR) END AS error
FROM g ORDER BY media_id""",
        "frame_sample": f"""
WITH m AS (
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS hx
    FROM documents
    WHERE doc_id % 3 <> 0 AND octet_length(encode(text)) > 0),
f AS (
    SELECT media_id, media_type, n_bytes,
           (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
         + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) + 1 AS n_frames
    FROM m),
s AS (
    SELECT f.*, CAST(k AS BIGINT) AS sample_k
    FROM f, unnest(generate_series(0, {multimodal.K_FRAMES - 1})) AS t(k))
SELECT media_id, media_type, sample_k,
       (sample_k * n_frames) // {multimodal.K_FRAMES} AS frame_idx,
       (n_bytes // n_frames) * ((sample_k * n_frames) // {multimodal.K_FRAMES}) AS byte_off,
       n_bytes // n_frames AS chunk_len
FROM s ORDER BY media_id, sample_k""",
        "winnowing_fingerprints": f"""
WITH {_CORPUS}, {_SHINGLE_HASHES},
sel AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(len(sh) - {dedup.WINNOW_W - 1}, 0)),
               i -> {{'pos': i + list_position(sh[i : i + {dedup.WINNOW_W - 1}],
                                               list_min(sh[i : i + {dedup.WINNOW_W - 1}])) - 1,
                      'fp': list_min(sh[i : i + {dedup.WINNOW_W - 1}])}}
           ) AS fps
    FROM hashed)
SELECT DISTINCT doc_id, CAST(f.pos AS BIGINT) AS pos, CAST(f.fp AS BIGINT) AS fp
FROM sel, unnest(fps) AS t(f)
ORDER BY doc_id, pos, fp""",
        "quality_classifier": f"""
WITH {_qual_sc_ctes()}
SELECT doc_id, quality_score,
       CAST(quality_score >= {corpus.QUAL_ACCEPT} AS INT) AS accept
FROM sc ORDER BY doc_id""",
        # the rule/classifier verdicts share the sig/sc chain; the CCNet
        # head flag re-derives the ppl tiers from the same ws words arrays
        "quality_rung_agreement": f"""
WITH {_qual_sc_ctes()},
gf AS (
    SELECT doc_id,
           CAST(n_words BETWEEN {corpus.GOPHER_MIN_WORDS} AND {corpus.GOPHER_MAX_WORDS}
                AND mean_wlen_x100 BETWEEN {corpus.GOPHER_MEANLEN_MIN_X100} AND {corpus.GOPHER_MEANLEN_MAX_X100}
                AND distinct_bp >= {corpus.GOPHER_DISTINCT_MIN_BP}
                AND n_stop >= {corpus.GOPHER_STOP_MIN} AS INT) AS in_gopher
    FROM sig),
pocc AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
    FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)
    WHERE len(w) >= 2),
pn12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM pocc GROUP BY w1, w2),
pn1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM pn12 GROUP BY w1),
pbits AS (
    SELECT pn12.w1, pn12.w2, length(printf('%b', n1 // n12)) - 1 AS bits
    FROM pn12 JOIN pn1 ON pn12.w1 = pn1.w1),
ppd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS sum_bits
    FROM pocc JOIN pbits USING (w1, w2) GROUP BY doc_id),
pscored AS (
    SELECT doc_id, (sum_bits * 100) // n_bigrams AS ppl_c FROM ppd),
phist AS (SELECT ppl_c, COUNT(*) AS n_docs FROM pscored GROUP BY ppl_c),
pcuts AS (
    SELECT ppl_c,
           CAST(COALESCE(SUM(n_docs) OVER (ORDER BY ppl_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS below,
           (SELECT COUNT(*) FROM pscored) AS n_total
    FROM phist),
pbk AS (
    SELECT s.doc_id,
           CAST(least((c.below * 3) // c.n_total, 2) = 0 AS INT) AS in_ppl_head
    FROM pscored s JOIN pcuts c USING (ppl_c)),
per AS (
    SELECT g.doc_id, g.in_gopher,
           CAST(sc.quality_score >= {corpus.QUAL_ACCEPT} AS INT) AS in_classifier,
           COALESCE(b.in_ppl_head, 0) AS in_ppl_head
    FROM gf g JOIN sc USING (doc_id) LEFT JOIN pbk b USING (doc_id))
SELECT in_gopher, in_classifier, in_ppl_head,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per GROUP BY in_gopher, in_classifier, in_ppl_head
ORDER BY in_gopher, in_classifier, in_ppl_head""",
        # a bad (null/NaN) component must neither crash the norm cast nor
        # leak into the zero-norm count — bad vectors count only as bad
        "embedding_hygiene": """
WITH per AS (
    SELECT label,
           CAST(len(embedding) AS INT) AS dim,
           COALESCE(list_sum(list_transform(embedding,
               x -> CASE WHEN x IS NULL OR isnan(CAST(x AS DOUBLE)) THEN 0
                         ELSE CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                            * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                    END)), 0) AS norm2,
           CASE WHEN len(list_filter(embedding,
                x -> x IS NULL OR isnan(CAST(x AS DOUBLE)))) > 0
                THEN 1 ELSE 0 END AS bad
    FROM embeddings WHERE embedding IS NOT NULL)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(bad) AS BIGINT) AS n_bad_component,
       CAST(SUM(CASE WHEN bad = 0 AND norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       MIN(dim) AS min_dim,
       MAX(dim) AS max_dim
FROM per GROUP BY label ORDER BY label""",
        # the flagship composition: the SAME independent arithmetic oracle
        # as extract_fulltext derives the extracted text, then the curation
        # stages re-derive over it
        "extraction_funnel": f"""
WITH {_EXTRACT_WORDS},
agg AS (
    SELECT doc_id,
           string_agg(word, ' ' ORDER BY line, CASE WHEN has_desc THEN 0 ELSE 1 END, col) AS et
    FROM kept GROUP BY doc_id),
docs2 AS (
    SELECT d.doc_id, COALESCE(a.et, '') AS et
    FROM documents d LEFT JOIN agg a USING (doc_id)),
sig AS (
    SELECT doc_id, et,
           len(string_split_regex(trim(et), '\\s+')) AS n_words,
           (len(list_distinct(string_split_regex(trim(et), '\\s+'))) * 10000)
               // len(string_split_regex(trim(et), '\\s+')) AS distinct_bp
    FROM docs2),
fl AS (
    SELECT (n_words >= {transcribe.EXF_MIN_WORDS}
            AND distinct_bp >= {transcribe.EXF_DISTINCT_MIN_BP}) AS q,
           doc_id = MIN(doc_id) OVER (PARTITION BY et) AS canon
    FROM sig),
a2 AS (
    SELECT COUNT(*) AS s0,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN q AND canon THEN 1 ELSE 0 END) AS BIGINT) AS s2
    FROM fl)
SELECT 0 AS stage_idx, 'raw' AS stage, s0 AS n_docs FROM a2
UNION ALL SELECT 1, 'quality', s1 FROM a2
UNION ALL SELECT 2, 'dedup', s2 FROM a2
ORDER BY stage_idx""",
    }
