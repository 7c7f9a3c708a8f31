"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine code lives in ``spark_app_twitter_spark/``; this module is a
thin registry mapping query names -> (Spark callable, oracle SQL).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_app_twitter_spark import jobs
from spark_app_twitter_spark.sources import bucketing as layout
from spark_app_twitter_spark.operators import (
    graph,
    pq,
    unigram,
    sketches,
    packing,
    retrieval,
    semdedup,  # noqa: E402
    aggregates,
    asof,
    clustering,
    dedup,
    enrich,
    ingest,
    multimodal,
    serving,
    similarity,
    textstats,
    tpch,
    training,
    versioning,
)
from spark_app_twitter_spark.streaming import qualitymon, quotamon


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's EP2 pipeline (enrich -> positivity agg
    + pinned emotion pivot -> broadcast join) on sf0.001."""
    return aggregates.aggregated_serving(spark, "/root/testdata/sf0.001")


def _enriched(fn):
    """Adapt an enriched-DataFrame operator to the (spark, sf_dir) shape."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from spark_app_twitter_spark.sources.parquet import load_table

        return fn(enrich.enrich(load_table(spark, sf_dir, "documents")))

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    ORDERING IS A LOAD-BEARING CONTRACT (ADVICE r02): the driver
    verifies only the FIRST 50 entries per round, so the dict is a
    rotation schedule, not a taxonomy. Priority per round:
      1. entries whose last driver row predates a code/oracle change
         (stale attestations),
      2. entries changed or added this round,
      3. everything else (freshly attested last round), last.
    When editing, append new queries to the front section and demote
    whatever the previous round just re-attested. Since round 8 the
    window is stated EXPLICITLY as one list, currently _R16_WINDOW
    (applied by reordering the dict below at return time; earlier
    rounds' lists live in git history and CORRECTNESS_r*.json) —
    the section comments document provenance, the list documents the
    contract.

    Round 7 rotation (executes VERDICT r06 items 1-2): the six
    entries with NO driver attestation lead — the repaired inverted
    index (now emitting a gate-canonicalizable csv postings column)
    plus the five post-window round-6 additions. Then the entries
    whose code changed THIS round: the two-level IVF family (VERDICT
    item 3 — knn_ivf, rag_ivf, index append, and the 2-level k-means
    whose fine assignment is now an inline coarse-dispatched map)
    and the sem_dedup promotion (item 4 — ``sem_dedup`` is now the
    two-level path; the flat trainer stays registered as the
    explicit ``sem_dedup_flat`` small-n variant). The seven
    operators ADDED this round (contrastive mining, tokenizer
    scorecard, quantized IVF, index export, probe sensitivity,
    split leakage, embedding sanity) follow in section 2b. Then the
    r04 remainder per the documented schedule: the 11 serving
    entries fill the window (all 35 remaining r04 rows now deferred;
    the 36 displaced rows (marked at the window boundary below) head
    round 8. The r05/r06-fresh entries sit last. Every deferred
    entry keeps a local DuckDB-oracle parity test in CI.

    Round-7 continuation: section 0 (ten new never-attested
    operators — BM25, DSIR, bitext mining, shard manifest, then
    hybrid RRF fusion, the matryoshka truncation audit, the corpus
    data card, the temperature-scaled mixture, duplicate-aware
    weighted sampling, CCNet perplexity buckets, the unigram-LM
    tokenizer train/encode pair, the DP count release, and the
    product-quantization family — codebook train, encode, and ADC
    search, each with a full Lloyd-replay SQL twin — and the
    incremental inverted-index delta, IVF rebalance planner, and
    Zipf corpus-shape fit, unigram vocabulary prune, and lang-ID
    evaluation metrics, curriculum shard ordering, and the
    embedding isotropy spectrum and the IVF-bucketed bitext scale
    path with its full index-replay twin) leads.
    """
    q = {
        # --- R14-0. added in round 14 (VERDICT r13 item 6): the two
        # streaming monitors' state-derived serves, driven batch-style
        # (modular micro-batch replay into a fresh state dir) so the
        # r13 streaming capstone sits under the driver's oracle gate
        # like everything else. Oracles are the batch twins' SQL —
        # the folds are bit-exact by construction ---
        "stream_quota_state_sample": quotamon.quota_sample_replayed,
        "stream_quality_floor_state": qualitymon.quality_floor_replayed,
        # Gopher n-gram repetition battery (top-n-gram / duplicated
        # n-gram char-mass ceilings) — the phrase-level complement of
        # text_quality_rules; lands unattested, heads the r15 window
        "text_repetition_rules": textstats.repetition_rules,
        # cluster naming: highest-lift terms per k-means cell (the
        # reporting face of the topic quota); unattested, heads r15
        "sim_cluster_topic_terms": clustering.cluster_topic_terms,
        # maximal duplicated token spans (the exact-substring-dedup
        # cut list); unattested, heads r15
        "dedup_dup_spans": dedup.dup_spans,
        "dedup_span_rewrite": dedup.span_dedup_rewrite,
        # capstone v5: v4 + the repetition gate composed in
        "pipeline_funnel_v5": jobs.pipeline_funnel_v5,
        # r15: keep-best over the capped O(n) LSH cluster relation —
        # the 100 TB lexical-representative stage (the exact
        # ngram-Jaccard chain stays as the named audit twin); funnel
        # v6 routes its reps stage through this (decomp: the exact
        # reps stage was 1392 s of 1450 s at the 100x fixture)
        "dedup_lsh_cluster_best": dedup.lsh_cluster_best,
        # r15: funnel v6 — v5 with the capped lexical stage
        "pipeline_funnel_v6": jobs.pipeline_funnel_v6,
        # r15: the NIGHTLY APPEND — an arriving batch admitted
        # against the published corpus (incremental near-dup, floor,
        # repetition, bloom) and appended to the packed export as a
        # per-shard continuation manifest; the oracle rebuilds the
        # union stream the expensive way, proving append == rebuild
        "pipeline_export_append": jobs.pipeline_export_append,
        # r15 capstone: the v6 survivors tokenized (trained unigram
        # vocab) and exact-fill rollover-packed — the per-shard
        # export manifest a pretraining run actually consumes; the
        # oracle recomputes the audit the expensive way (segment
        # stream), proving the closed form on the filtered corpus
        "pipeline_pretrain_export": jobs.pipeline_pretrain_export,
        # PCA whitening serve (the isotropy FIX); literal-artifact
        # oracle like sim_embedding_pca; unattested, heads r15
        "sim_embedding_whiten": similarity.embedding_whiten,
        # r15: URL canonicalization + URL/host-level dedup — the
        # RefinedWeb stage-one grain the dedup family didn't cover
        # (scheme/www/tracking/fragment/slash variants collapse to
        # one canonical page; keep-first + per-host dup shares)
        "dedup_url_canonical": dedup.url_canonical_dedup,
        "dedup_url_host_stats": dedup.url_host_stats,
        # r15: tokenizer-aware packing — concat-then-cut in TRAINED
        # unigram piece units (what the training loop actually
        # consumes) + the scorecard quantifying the word-budget
        # packer's underestimate (the fertility tax)
        "pack_unigram_sequences": packing.pack_unigram_sequences,
        "pack_unigram_efficiency": packing.pack_unigram_efficiency,
        # r15: exact-fill rollover packing (docs SPLIT at sequence
        # boundaries — every bin but a shard's last holds exactly
        # PACK_BUDGET pieces) + its published fill audit
        "pack_rollover_segments": packing.pack_rollover_segments,
        "pack_rollover_fill": packing.pack_rollover_fill,
        # --- R8-0. added or rerouted in round 8 (VERDICT r07 items
        # 3-4): the O(n) cluster-routed near-dup family — capped pair
        # emission (star-from-representative above CLIQUE_CAP-member
        # LSH buckets), cluster membership for every doc, the
        # cluster-routed leakage audit (dedup_split_leakage now
        # catches transitive contamination; the direct-pair variant
        # stays as the explicit exact twin), and PageRank whose edge
        # list is now the capped relation ---
        "dedup_lsh_clusters": dedup.lsh_clusters,
        "dedup_minhash_lsh_pairs_capped": dedup.minhash_lsh_pairs_capped,
        "dedup_split_leakage_pairs": dedup.split_leakage_pairs,
        # cluster-routed SimHash (the MinHash family's complement),
        # tokenizer-budget OOV curve, BM25 pseudo-relevance feedback,
        # PII incidence dashboard, train->eval n-gram memorization
        "dedup_simhash_clusters": dedup.simhash_clusters,
        "text_vocab_coverage": textstats.vocab_coverage,
        "retrieval_query_expansion": retrieval.query_expansion,
        "text_pii_stats": textstats.pii_stats,
        "text_ngram_novelty": textstats.ngram_novelty,
        # index-quality audit off the shared two-level artifact
        "sim_kmeans_quality": similarity.kmeans_quality,
        # ordered conversion funnel over events (one user_id exchange)
        "serving_funnel_conversion": serving.funnel_conversion,
        # late round 8: source-priority survivor election over the
        # cluster relation, sparse self-retrieval eval, KMV sketch
        # set operations (the intersection-capable distinct sketch)
        "dedup_cluster_survivors_by_source": dedup.cluster_survivors_by_source,
        "retrieval_bm25_eval": retrieval.bm25_eval,
        "sketch_kmv_source_overlap": sketches.kmv_source_overlap,
        # 8-byte sign-code ANN tier (binary -> int8 -> PQ -> f32)
        "sim_knn_binary_hamming": similarity.knn_binary_hamming,
        # all-integer 3-sigma alerting over the hourly series
        "serving_hourly_anomalies": serving.hourly_anomalies,
        # closing round 8: dynamic-batching padding-waste audit,
        # per-source domain-shift KL score
        "pack_length_buckets": packing.length_buckets,
        "text_source_kl": textstats.source_kl,
        # map-only MOSS winnowing fingerprint index
        "text_winnowing": textstats.winnowing,
        # the faiss-standard serving config: IVF shortlist + PQ-ADC
        "sim_knn_ivf_pq": pq.knn_ivf_pq,
        # the LM ranker complementing BM25 (Dirichlet smoothing)
        "retrieval_query_likelihood": retrieval.query_likelihood,
        # within-session Markov transition matrix (basis points)
        "serving_event_transitions": serving.event_transitions,
        # MOSS detection: pairs sharing winnowed fingerprints
        "dedup_winnowing_pairs": textstats.winnowing_pairs,
        # map-only Shannon char entropy (Gopher-class quality signal)
        "text_char_entropy": textstats.char_entropy,
        # CRM RFM quintile segmentation over purchases
        "serving_rfm_scores": serving.rfm_scores,
        # triangle census / clustering coefficient of the dup graph
        "graph_triangle_count": graph.triangle_count,
        # map-only all-integer Flesch readability
        "text_readability": textstats.readability,
        # top-K adjacent-bigram PMI collocations
        "text_pmi_collocations": textstats.pmi_collocations,
        # degree histogram of the near-dup graph (capped relation)
        "graph_degree_stats": graph.degree_stats,
        # deterministic synchronous LPA communities over the dup graph
        "graph_label_propagation": graph.label_propagation,
        # within-session event-type association lift
        "serving_item_cooccurrence": serving.item_cooccurrence,
        # positional-postings exact phrase match
        "retrieval_phrase_search": retrieval.phrase_search,
        # interpolated Kneser-Ney bigram LM scoring
        "text_kn_bigram_score": textstats.kn_bigram_score,
        # MMR-diversified top-k rerank (fixed greedy steps)
        "sim_mmr_rerank": similarity.mmr_rerank,
        # monthly DAU/MAU engagement stickiness
        "serving_stickiness": serving.stickiness,
        # greedy farthest-point k-center coreset selection
        "sim_coreset_kcenter": similarity.coreset_kcenter,
        # chunk-fingerprint near-dup over the binary blob column
        "multimodal_chunk_dedup": multimodal.chunk_dedup,
        # Lorenz decile concentration of per-user activity
        "serving_power_users": serving.power_users,
        # fixed-round k-core peeling of the near-dup graph
        "graph_kcore": graph.kcore,
        # dedup operating-point curve: pairs + drops per threshold
        "dedup_threshold_yield": dedup.threshold_yield,
        # corpus-relative rare-token share (OCR/mojibake signal)
        "text_rare_token_ratio": textstats.rare_token_ratio,
        # all-vectors within-cell top-k neighbor graph
        "sim_knn_graph": similarity.knn_graph,
        # two-partition (cells + LSH buckets) multi-probe kNN graph
        "sim_knn_graph_multiprobe": similarity.knn_graph_multiprobe,
        # dedup governance: mean quality all/survivors/dropped
        "dedup_quality_lift": dedup.quality_lift,
        # daily new-vs-returning active-user split
        "serving_new_vs_returning": serving.new_vs_returning,
        # MMR rerank over the IVF-probed shortlist (the scale path)
        "sim_mmr_rerank_ivf": similarity.mmr_rerank_ivf,
        # signup->purchase conversion-latency quartiles
        "serving_time_to_convert": serving.time_to_convert,
        # one NN-descent round over the multi-probe kNN graph
        "sim_knn_graph_refine": similarity.knn_graph_refine,
        # delta maintenance: post-update top-k for touched cells only
        "sim_knn_graph_delta": similarity.knn_graph_delta,
        # nearest-centroid classifier confusion matrix
        "sim_centroid_classifier_eval": similarity.centroid_classifier_eval,
        # labels-as-relevance purity of the IVF top-k
        "sim_knn_label_purity": similarity.knn_label_purity,
        # Q1 maintained by partial-aggregate merge (IVM / RF1)
        "tpch_q1_incremental": tpch.q1_incremental,
        # Q1 maintained under deletes (signed partials / RF2)
        "tpch_q1_retraction": tpch.q1_retraction,
        # --- R9. added in round 9 (VERDICT r08 item 6): the
        # join-bearing IVM pair — Q3 under two-sided inserts via the
        # bilinear join delta, and under lineitem deletes via signed
        # partials through the join ---
        "tpch_q3_incremental": tpch.q3_incremental,
        "tpch_q3_retraction": tpch.q3_retraction,
        # NN-descent observability: per-round improvement metrics
        # (VERDICT r08 item 8 — the ann_recall_audit of refinement)
        "sim_knn_graph_convergence": similarity.knn_graph_convergence,
        # Newman modularity of the LPA communities as exact integer
        # rationals (the kmeans_quality of the near-dup graph)
        "graph_modularity": graph.modularity,
        # Kimball type-2 dimension history from the event stream
        # (one user_id exchange for lag + lead + version window)
        "versioning_scd2": versioning.scd2_user_attr,
        # point-in-time (as-of) join of purchase facts to the type-2
        # history — valid_from inclusive, facts never dropped
        "versioning_scd2_pit": versioning.scd2_point_in_time,
        # recall/precision of the capped fixed-probe bitext default
        # vs the uncapped cell-probed variant (the probe/cap tuning
        # dial — ann_recall_audit's role for mining)
        "sim_bitext_recall_audit": similarity.bitext_recall_audit,
        # r10: the probe dial's recall curve (VERDICT r9 item 7)
        "sim_bitext_probe_sensitivity": similarity.bitext_probe_sensitivity,
        # --- 0. added in the round-7 continuation (never attested):
        # sparse BM25 retrieval, DSIR importance weights, margin-based
        # bitext mining, the training-shard manifest, BM25+dense RRF
        # fusion, the matryoshka-truncation recall audit, the
        # per-source corpus data card, and the temperature-scaled
        # mixture plan ---
        "retrieval_bm25": retrieval.bm25_retrieve,
        "text_dsir_weights": textstats.dsir_weights,
        # VERDICT r07 item 2 + r08 item 2: the scale path
        # (IVF-bucketed candidates, per-cell cap) is the default; the
        # uncapped cell-probed variant stays as _exact_cells and the
        # all-pairs variant as the explicit exact twin
        "sim_bitext_mining": similarity.bitext_mining_capped,
        "sim_bitext_mining_exact_cells": similarity.bitext_mining_ivf,
        "pack_shard_manifest": packing.shard_manifest,
        "retrieval_hybrid_rrf": retrieval.hybrid_rrf,
        "sim_matryoshka_recall": similarity.matryoshka_recall,
        "text_corpus_datacard": textstats.corpus_datacard,
        "text_mixture_temperature": textstats.mixture_temperature,
        "dedup_weighted_sample": dedup.weighted_sample,
        "text_perplexity_buckets": textstats.perplexity_buckets,
        "text_unigram_train": unigram.unigram_train,
        "text_unigram_encode": unigram.unigram_encode,
        # r12: per-language fertility of the trained unigram tokenizer
        # (pieces per word by predicted language — the multilingual
        # tokenizer-fairness monitor)
        "text_tokenizer_fertility": unigram.tokenizer_fertility,
        # r12: per-source quality-floor calibration (source-fair
        # quantile thresholds over the bounded score histogram)
        "text_quality_floor_by_source": textstats.quality_floor_by_source,
        "versioning_dp_counts": versioning.dp_released_counts,
        "sim_pq_train": pq.pq_train,
        "sim_pq_encode": pq.pq_encode,
        "sim_knn_pq_adc": pq.knn_pq_adc,
        "retrieval_index_delta": retrieval.index_delta,
        "sim_ivf_rebalance_plan": similarity.ivf_rebalance_plan,
        "text_zipf_fit": textstats.zipf_fit,
        "text_unigram_prune": unigram.unigram_prune,
        "text_langid_metrics": textstats.langid_metrics,
        "pack_curriculum_shards": packing.curriculum_shards,
        "sim_embedding_isotropy": similarity.embedding_isotropy,
        "sim_bitext_mining_exact": similarity.bitext_mining,
        # --- 1. round-7 head: the six never-driver-attested entries
        # (VERDICT r06 item 2), led by the repaired inverted index
        # (item 1: postings serialized to csv so the gate
        # canonicalizer can sort the column) ---
        "retrieval_inverted_index": retrieval.inverted_index,
        "dedup_cluster_sizes": dedup.cluster_size_histogram,
        "sim_ann_recall_audit": similarity.ann_recall_audit,
        "sim_embedding_outliers": similarity.embedding_outliers,
        "layout_zorder_skipping": layout.zorder_skipping_stats,
        "serving_trending_topics": serving.trending_topics,
        # --- 2. changed this round: every consumer of the two-level
        # trained index (VERDICT item 3) and the sem_dedup promotion
        # (item 4) ---
        "sem_dedup": semdedup.semdedup,
        "sem_dedup_flat": semdedup.semdedup_flat,
        "sim_knn_ivf": similarity.knn_ivf,
        "retrieval_rag_ivf": retrieval.rag_retrieve_ivf,
        "sim_ivf_index_append": similarity.ivf_index_append,
        "sim_kmeans_cells_2level": clustering.kmeans_cells_2level,
        # --- 2b. new in round 7: contrastive-pair mining over the ANN
        # result; per-source tokenizer-efficiency scorecard; the
        # IVF + int8-prerank + float-rerank serving composition ---
        "sim_contrastive_pairs": similarity.contrastive_pairs,
        "text_bpe_compression": textstats.bpe_compression,
        "sim_knn_ivf_quantized": similarity.knn_ivf_quantized,
        "sim_ivf_index_export": similarity.ivf_index_export,
        "sim_ivf_probe_sensitivity": similarity.ivf_probe_sensitivity,
        "dedup_split_leakage": dedup.split_leakage,
        "sim_embedding_sanity": similarity.embedding_sanity,
        # --- 3. r04-attested fill (oldest remaining attestations) ---
        "agg_serving_join": aggregates.aggregated_serving,
        "serving_dedup_first": serving.dedup_first,
        "serving_topic_share": serving.topic_share,
        "serving_grains_grouping_sets": serving.grains_grouping_sets,
        "serving_value_percentiles": serving.value_percentiles,
        "serving_hourly_window": serving.hourly_window,
        "serving_topic_means": serving.topic_means,
        # ---- driver verification window ends at 50 entries ----
        # --- 4. r04-attested remainder: all thirty-six displaced
        # rows (the twenty-one below pushed out by the section-0
        # additions plus the original fifteen) head the round-8
        # window, each with a local parity test in CI ---
        "serving_distinct_users": serving.distinct_users,
        "serving_rollup_value": serving.rollup_value,
        "serving_loyal_purchasers": serving.loyal_purchasers,
        "serving_moving_avg_daily": serving.moving_avg_daily,
        "serving_value_quartiles": serving.value_quartile_assignments,
        "serving_value_histogram": serving.value_histogram,
        "tpch_top_customers_per_nation": tpch.top_customers_per_nation,
        "dedup_exact": dedup.exact_dedup,
        "dedup_minhash_signatures": dedup.minhash_signatures,
        "dedup_minhash_lsh_pairs": dedup.minhash_lsh_pairs,
        "dedup_ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "dedup_containment_pairs": dedup.containment_pairs,
        "dedup_clusters": dedup.dedup_clusters,
        "text_token_stats": textstats.token_stats,
        "text_token_counts": textstats.token_counts,
        "text_lang_id": textstats.lang_id,
        "text_doc_fingerprint": textstats.doc_fingerprint,
        "text_redact": textstats.redact_text,
        "sim_quantize_embeddings": similarity.quantize_embeddings,
        "multimodal_resize_images": multimodal.resize_images,
        "sim_kmeans_cells": clustering.kmeans_cells,
        # r12: topic-balanced subsample — per-cell keep quota over the
        # trained k-means cells (head topics capped, tails kept whole)
        "sim_cluster_balanced_sample": clustering.cluster_balanced_sample,
        "text_train_split": textstats.train_split,
        "text_length_histogram": textstats.length_histogram,
        "sim_knn_quantized": similarity.knn_quantized,
        "serving_retention_cohorts": serving.retention_cohorts,
        "multimodal_audio_chunks": multimodal.audio_chunks,
        "dedup_minhash_jaccard_est": dedup.minhash_jaccard_estimate,
        "serving_props_stats": serving.props_stats,
        "serving_weekly_active": serving.weekly_active,
        "text_quality_rules": textstats.quality_rules,
        "text_common_ngrams": textstats.common_ngrams,
        "sim_embedding_dim_stats": similarity.embedding_dim_stats,
        "dedup_incremental": dedup.incremental_dedup,
        "text_token_budget_sample": textstats.token_budget_sample,
        "dedup_span_stats": dedup.dup_span_stats,
        "text_bigram_lm_score": textstats.bigram_lm_score,
        "text_weighted_sample": textstats.weighted_sample,
        "text_ngram_diversity": textstats.ngram_diversity,
        "sim_embedding_covariance": similarity.embedding_covariance,
        # --- 5. freshly attested green in r05/r06, unchanged since ---
        "agg_positivity": _enriched(aggregates.positivity_agg),
        "agg_emotion_counts": _enriched(aggregates.emotion_counts),
        "agg_emotion_pivot": _enriched(aggregates.emotion_pivot),
        "agg_emotion_share": _enriched(aggregates.emotion_share_normalized),
        "ingest_parse_events": ingest.parse_events,
        "enrich_documents": enrich.enrich_documents,
        "tpch_q4_order_priority": tpch.q4_order_priority,
        "tpch_q10_returned_items": tpch.q10_returned_items,
        "tpch_q12_priority_by_status": tpch.q12_priority_by_status,
        "tpch_q13_customer_distribution": tpch.q13_customer_distribution,
        "tpch_q15_top_supplier": tpch.q15_top_supplier,
        "tpch_q18_large_volume_orders": tpch.q18_large_volume_orders,
        "tpch_q22_dormant_rich_customers": tpch.q22_dormant_rich_customers,
        "tpch_customers_without_orders": tpch.customers_without_orders,
        "dedup_simhash": dedup.simhash,
        "dedup_simhash64_pairs": dedup.simhash64_pairs,
        "pack_chunk_documents": packing.chunk_documents,
        "pack_sequences": packing.pack_sequences,
        "rag_retrieve": retrieval.rag_retrieve,
        "multimodal_video_frames": multimodal.video_frames,
        "text_bpe_train_merges": textstats.bpe_train_merges,
        "text_bpe_encode": textstats.bpe_encode,
        "text_train_lang_lr": training.train_lang_lr,
        "sim_embedding_pca": similarity.embedding_pca_project,
        "graph_pagerank_near_dup": graph.pagerank_near_dup,
        "asof_nearest_click": asof.nearest_click_to_purchase,
        "versioning_corpus_delta": versioning.corpus_delta,
        "text_mixture_plan": textstats.mixture_plan,
        "sketch_hll_daily_users": sketches.hll_daily_users,
        "text_decontaminate_bloom": textstats.decontaminate_bloom,
        "versioning_incremental_stats": versioning.incremental_source_stats,
        "text_bpe_train_batched": textstats.bpe_train_merges_batched,
        "dedup_paragraphs": dedup.paragraph_dedup,
        "sketch_cms_top_terms": sketches.cms_top_terms,
        "layout_compaction_plan": layout.compaction_plan,
        "diag_key_skew": aggregates.key_skew_report,
        "dedup_source_overlap": dedup.source_overlap,
        "versioning_k_anonymous": versioning.k_anonymous_release,
        "text_mixture_apply": textstats.mixture_apply,
        "sketch_hist_quantiles": sketches.hist_quantiles,
        "dedup_cluster_best": dedup.cluster_best_representatives,
        "sim_embedding_drift": similarity.embedding_drift,
        "pack_efficiency": packing.pack_efficiency,
        "dedup_paragraphs_rewrite": dedup.paragraph_dedup_rewrite,
        "asof_purchases_last_click": asof.purchases_with_last_click,
        "range_errors_near_purchases": asof.errors_near_purchases,
        "serving_sessionize": serving.sessionize,
        "serving_session_paths": serving.session_paths,
        "serving_signup_purchase_funnel": serving.signup_purchase_funnel,
        "range_clicks_near_errors": asof.clicks_near_errors,
        "serving_session_window_stats": serving.session_window_stats,
        "pack_shuffle_export": packing.shuffle_export,
        "agg_salted_event_totals": aggregates.salted_event_totals,
        "serving_hourly_gapfill": serving.hourly_gapfill,
        "layout_zorder_events": layout.zorder_events,
        "tpch_q1_pricing_summary": tpch.q1_pricing_summary,
        "tpch_q3_shipping_priority": tpch.q3_shipping_priority,
        "tpch_q5_local_supplier_volume": tpch.q5_local_supplier_volume,
        "tpch_q6_forecast_revenue": tpch.q6_forecast_revenue,
        "tpch_promo_revenue_share": tpch.promo_revenue_share,
        "tpch_q19_disjunctive_revenue": tpch.q19_disjunctive_revenue,
        "tpch_rich_customers_vs_nation": tpch.rich_customers_vs_nation,
        "tpch_q7_volume_shipping": tpch.q7_volume_shipping,
        "tpch_q8_market_share": tpch.q8_market_share,
        "tpch_q9_product_profit": tpch.q9_product_profit,
        "tpch_q11_important_parts": tpch.q11_important_parts,
        "tpch_q16_supplier_part_stats": tpch.q16_supplier_part_stats,
        "tpch_q17_small_quantity_revenue": tpch.q17_small_quantity_revenue,
        "tpch_q2_min_price_supplier": tpch.q2_min_price_supplier,
        "tpch_q20_excess_share_suppliers": tpch.q20_excess_share_suppliers,
        "tpch_q21_sole_blame_suppliers": tpch.q21_sole_blame_suppliers,
        "serving_latest_inputs": serving.latest_inputs,
        "serving_unpivot_emotions": serving.unpivot_emotions,
        "serving_value_anomalies": serving.value_anomalies,
        "serving_cube_value": serving.cube_value,
        "serving_cumulative_daily": serving.cumulative_daily_counts,
        "text_sample_stratified": textstats.sample_documents,
        "text_corpus_funnel": textstats.corpus_funnel,
        "text_source_stats": textstats.source_stats,
        "text_bpe_pair_counts": textstats.bpe_pair_counts,
        "text_tfidf_top_terms": textstats.tfidf_top_terms,
        "text_repetition_stats": textstats.repetition_stats,
        "text_decontaminate": textstats.decontaminate,
        # r10: embedding-similarity contamination screen (the
        # paraphrase-robust complement of the n-gram gate)
        "text_decontaminate_semantic": semdedup.decontaminate_semantic,
        # r11: the SEMDECON_THRESHOLD dial's sensitivity curve
        # (VERDICT r10 item 7 — bitext_probe_sensitivity's role for
        # the semantic contamination screen)
        "text_semdecon_sensitivity": (
            semdedup.decontaminate_threshold_sensitivity
        ),
        # r11: agreement audit between the n-gram and semantic
        # contamination screens (the paraphrase bucket made visible)
        "text_decon_screen_agreement": semdedup.decon_screen_agreement,
        # r11: the dual-screen corpus-build funnel report — the
        # capstone composition itself, driver-attested (its oracle
        # replays every component twin)
        "pipeline_funnel_v3": jobs.pipeline_funnel_v3,
        # late r12: the capstone with the two new curation stages
        # composed in (per-source quality floor + topic quota)
        "pipeline_funnel_v4": jobs.pipeline_funnel_v4,
        # r11: soft dedup — keep every doc, constant sampling mass
        # per near-dup family (weight = 1/|cluster|)
        "dedup_soft_weights": dedup.soft_dedup_weights,
        # r12: the sampler face of soft dedup — deterministic
        # 1/|cluster| keep decisions, one expected survivor per
        # near-dup family (closes VERDICT r11 item 6)
        "text_weighted_sample_soft": dedup.soft_weighted_sample,
        # r11: per-source contamination rates (which ingest feeds
        # are dirty — the screens' by-source drill-down)
        "text_contamination_by_source": semdedup.contamination_by_source,
        "sim_knn_bruteforce": similarity.knn_bruteforce,
        "sim_knn_lsh": similarity.knn_lsh,
        "sim_embedding_near_dup": similarity.embedding_near_dup,
        "sim_label_centroids": similarity.label_centroids,
        "sim_knn_lsh_multi": similarity.knn_lsh_multi,
        "multimodal_media_features": multimodal.media_features,
    }
    ordered = {name: q.pop(name) for name in _R16_WINDOW}
    ordered.update(q)
    return ordered


# The round-16 driver verification window (VERDICT r15 item 9 + the
# standing rotation contract), in priority order:
#   (a) code changed in optimization round 16, incl. consumers:
#       - both streaming replay twins (quota delta now served from
#         the published flat cell table; quality-floor deltas from
#         ONE grouped corpus pass) + the quota twin's batch-sampler
#         source of truth;
#       - the whole bitext family (the shared _bitext_margins stage
#         was rewritten window->aggregate);
#       - one consumer per artifact getter moved onto the
#         get_or_build double-checked build lock (plan-identical;
#         attestation pins that);
#   (b) the r15 rewrites the driver's window never covered (VERDICT
#       r15 item 9 list): LPA/modularity, bm25/QL/hybrid-RRF,
#       index_delta, the bigram-LM pair, minhash pairs/jaccard, PMI;
#   (c) fill to 50 from the r10-attested cohort (oldest attestations
#       per sweep.py --stale).
_R16_WINDOW = (
    # (a) changed this round + consumers
    "stream_quota_state_sample",
    "stream_quality_floor_state",
    "sim_cluster_balanced_sample",
    "sim_bitext_mining",
    "sim_bitext_mining_exact",
    "sim_bitext_mining_exact_cells",
    "sim_bitext_recall_audit",
    "sim_bitext_probe_sensitivity",
    "dedup_minhash_signatures",
    "sim_knn_pq_adc",
    "text_bpe_encode",
    "text_unigram_encode",
    "text_decontaminate_bloom",
    "sim_kmeans_cells_2level",
    "sim_cluster_topic_terms",
    # (a, batch 6) consumers rewired onto the published postings
    "text_tfidf_top_terms",
    "retrieval_inverted_index",
    "retrieval_query_expansion",
    # (a, batches 7-9) session-shared capped pairs / dup spans / CDC
    # work list and their consumers
    "dedup_dup_spans",
    "dedup_span_rewrite",
    "dedup_span_stats",
    "dedup_lsh_clusters",
    "dedup_lsh_cluster_best",
    "versioning_corpus_delta",
    # (a, batch 10) registered-cohort probe-ranking consumers
    "sim_knn_ivf",
    "sim_knn_ivf_quantized",
    "sim_knn_ivf_pq",
    "sim_mmr_rerank_ivf",
    "retrieval_rag_ivf",
    "sim_ivf_probe_sensitivity",
    # (b) r15 rewrites rotated into the driver window
    "graph_label_propagation",
    "graph_modularity",
    "retrieval_bm25",
    "retrieval_query_likelihood",
    "retrieval_hybrid_rrf",
    "retrieval_index_delta",
    "text_bigram_lm_score",
    "text_perplexity_buckets",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_jaccard_est",
    "text_pmi_collocations",
    # (c) the r10-attested cohort head (staleness rotation)
    "layout_zorder_events",
    "multimodal_media_features",
    "pack_shuffle_export",
    "range_clicks_near_errors",
    "serving_retention_cohorts",
    "serving_session_paths",
    "serving_session_window_stats",
    "serving_sessionize",
    "serving_signup_purchase_funnel",
)


def _trained_oracles() -> dict[str, str]:
    """Literal-artifact twins for the iteratively-trained operators
    (see spark_app_twitter_spark/oracles.py): an independent pure
    Python/DuckDB replica trains the artifact (PCA axes, LR weights,
    BPE merges, PageRank mass) at oracle-build time against the
    driver's comparison corpus and embeds it as SQL literals; the
    deployment half (projection / scoring / encode fold / scaling)
    stays real SQL over the tables. Omitted — falling back to the
    driver's weaker rows-only check — only if the canonical corpus
    is unreadable in this environment."""
    from spark_app_twitter_spark import oracles

    try:
        return {
            "text_bpe_train_merges": oracles.bpe_train_merges_sql(),
            "text_bpe_encode": oracles.bpe_encode_sql(),
            "text_train_lang_lr": oracles.train_lang_lr_sql(),
            "sim_embedding_pca": oracles.embedding_pca_sql(),
            "graph_pagerank_near_dup": oracles.pagerank_near_dup_sql(),
            "text_bpe_train_batched": oracles.bpe_train_merges_batched_sql(),
            "text_bpe_compression": oracles.bpe_compression_sql(),
            "text_unigram_train": oracles.unigram_train_sql(),
            "text_unigram_encode": oracles.unigram_encode_sql(),
            "text_tokenizer_fertility": oracles.tokenizer_fertility_sql(),
            "pack_unigram_sequences": oracles.pack_unigram_sequences_sql(),
            "pack_unigram_efficiency": (
                oracles.pack_unigram_efficiency_sql()
            ),
            "pack_rollover_segments": oracles.pack_rollover_segments_sql(),
            "pack_rollover_fill": oracles.pack_rollover_fill_sql(),
            "text_unigram_prune": oracles.unigram_prune_sql(),
            "sim_embedding_isotropy": oracles.embedding_isotropy_sql(),
            "sim_embedding_whiten": oracles.embedding_whiten_sql(),
        }
    except Exception as e:  # pragma: no cover - environment guard
        # the downgrade to rows-only must never be silent: a bug in
        # oracles.py would otherwise masquerade as six green checks
        print(
            f"WARNING: literal-artifact oracle generation failed "
            f"({type(e).__name__}: {e}); six queries fall back to "
            f"rows-only checks",
            file=sys.stderr,
        )
        return {}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    return {
        **_trained_oracles(),
        # r14: the streaming monitors' replayed serves equal their
        # batch twins bit-for-bit, so they share the twins' oracles
        "stream_quota_state_sample": clustering.CLUSTER_BALANCED_SAMPLE_SQL,
        "stream_quality_floor_state": textstats.QUALITY_FLOOR_BY_SOURCE_SQL,
        "text_repetition_rules": textstats.REPETITION_RULES_SQL,
        "sim_cluster_topic_terms": clustering.CLUSTER_TOPIC_TERMS_SQL,
        "dedup_dup_spans": dedup.DUP_SPANS_SQL,
        "dedup_span_rewrite": dedup.SPAN_DEDUP_REWRITE_SQL,
        "dedup_url_canonical": dedup.URL_CANONICAL_DEDUP_SQL,
        "dedup_url_host_stats": dedup.URL_HOST_STATS_SQL,
        "pipeline_funnel_v5": jobs.PIPELINE_FUNNEL_V5_SQL,
        "dedup_lsh_cluster_best": dedup.LSH_CLUSTER_BEST_SQL,
        "pipeline_funnel_v6": jobs.PIPELINE_FUNNEL_V6_SQL,
        "pipeline_export_append": jobs._pipeline_export_append_sql(),
        "pipeline_pretrain_export": jobs._pipeline_pretrain_export_sql(),
        "dedup_lsh_clusters": dedup.LSH_CLUSTERS_SQL,
        "dedup_minhash_lsh_pairs_capped": dedup.MINHASH_LSH_PAIRS_CAPPED_SQL,
        "dedup_split_leakage_pairs": dedup.SPLIT_LEAKAGE_PAIRS_SQL,
        "dedup_simhash_clusters": dedup.SIMHASH_CLUSTERS_SQL,
        "text_vocab_coverage": textstats.VOCAB_COVERAGE_SQL,
        "retrieval_query_expansion": retrieval.QUERY_EXPANSION_SQL,
        "text_pii_stats": textstats.PII_STATS_SQL,
        "text_ngram_novelty": textstats.NGRAM_NOVELTY_SQL,
        "sim_kmeans_quality": similarity.KMEANS_QUALITY_SQL,
        "serving_funnel_conversion": serving.FUNNEL_CONVERSION_SQL,
        "dedup_cluster_survivors_by_source": dedup.CLUSTER_SURVIVORS_SQL,
        "retrieval_bm25_eval": retrieval.BM25_EVAL_SQL,
        "sketch_kmv_source_overlap": sketches.KMV_SOURCE_OVERLAP_SQL,
        "sim_knn_binary_hamming": similarity.KNN_BINARY_HAMMING_SQL,
        "serving_hourly_anomalies": serving.HOURLY_ANOMALIES_SQL,
        "pack_length_buckets": packing.LENGTH_BUCKETS_SQL,
        "text_source_kl": textstats.SOURCE_KL_SQL,
        "text_winnowing": textstats.WINNOWING_SQL,
        "sim_knn_ivf_pq": pq.KNN_IVF_PQ_SQL,
        "retrieval_query_likelihood": retrieval.QUERY_LIKELIHOOD_SQL,
        "serving_event_transitions": serving.EVENT_TRANSITIONS_SQL,
        "dedup_winnowing_pairs": textstats.WINNOWING_PAIRS_SQL,
        "text_char_entropy": textstats.CHAR_ENTROPY_SQL,
        "serving_rfm_scores": serving.RFM_SCORES_SQL,
        "graph_triangle_count": graph._triangle_count_sql(),
        "text_readability": textstats.READABILITY_SQL,
        "text_pmi_collocations": textstats.PMI_COLLOCATIONS_SQL,
        "graph_degree_stats": graph._degree_stats_sql(),
        "graph_label_propagation": graph._label_propagation_sql(),
        "serving_item_cooccurrence": serving.ITEM_COOCCURRENCE_SQL,
        "retrieval_phrase_search": retrieval.PHRASE_SEARCH_SQL,
        "text_kn_bigram_score": textstats.KN_BIGRAM_SCORE_SQL,
        "sim_mmr_rerank": similarity.MMR_RERANK_SQL,
        "serving_stickiness": serving.STICKINESS_SQL,
        "sim_coreset_kcenter": similarity.CORESET_KCENTER_SQL,
        "multimodal_chunk_dedup": multimodal.CHUNK_DEDUP_SQL,
        "serving_power_users": serving.POWER_USERS_SQL,
        "graph_kcore": graph.KCORE_SQL,
        "dedup_threshold_yield": dedup.THRESHOLD_YIELD_SQL,
        "text_rare_token_ratio": textstats.RARE_TOKEN_RATIO_SQL,
        "sim_knn_graph": similarity.KNN_GRAPH_SQL,
        "sim_knn_graph_multiprobe": similarity.KNN_GRAPH_MULTIPROBE_SQL,
        "dedup_quality_lift": dedup.QUALITY_LIFT_SQL,
        "serving_new_vs_returning": serving.NEW_VS_RETURNING_SQL,
        "sim_mmr_rerank_ivf": similarity.MMR_RERANK_IVF_SQL,
        "serving_time_to_convert": serving.TIME_TO_CONVERT_SQL,
        "sim_knn_graph_refine": similarity.KNN_GRAPH_REFINE_SQL,
        "sim_knn_graph_delta": similarity.KNN_GRAPH_DELTA_SQL,
        "sim_centroid_classifier_eval": similarity.CENTROID_CLASSIFIER_EVAL_SQL,
        "sim_knn_label_purity": similarity.KNN_LABEL_PURITY_SQL,
        "tpch_q1_incremental": tpch.Q1_INCREMENTAL_SQL,
        "tpch_q1_retraction": tpch.Q1_RETRACTION_SQL,
        "tpch_q3_incremental": tpch.Q3_INCREMENTAL_SQL,
        "tpch_q3_retraction": tpch.Q3_RETRACTION_SQL,
        "sim_knn_graph_convergence": similarity.KNN_GRAPH_CONVERGENCE_SQL,
        "graph_modularity": graph.MODULARITY_SQL,
        "versioning_scd2": versioning.SCD2_USER_ATTR_SQL,
        "versioning_scd2_pit": versioning.SCD2_POINT_IN_TIME_SQL,
        "sim_bitext_recall_audit": similarity.BITEXT_RECALL_AUDIT_SQL,
        "sim_bitext_probe_sensitivity": (
            similarity.BITEXT_PROBE_SENSITIVITY_SQL
        ),
        "retrieval_bm25": retrieval.BM25_RETRIEVE_SQL,
        "text_dsir_weights": textstats.DSIR_WEIGHTS_SQL,
        "sim_bitext_mining": similarity.BITEXT_MINING_CAPPED_SQL,
        "sim_bitext_mining_exact_cells": similarity.BITEXT_MINING_IVF_SQL,
        "pack_shard_manifest": packing.SHARD_MANIFEST_SQL,
        "retrieval_hybrid_rrf": retrieval.HYBRID_RRF_SQL,
        "sim_matryoshka_recall": similarity.MATRYOSHKA_RECALL_SQL,
        "text_corpus_datacard": textstats.CORPUS_DATACARD_SQL,
        "text_mixture_temperature": textstats.MIXTURE_TEMPERATURE_SQL,
        "dedup_weighted_sample": dedup.WEIGHTED_SAMPLE_SQL,
        "text_perplexity_buckets": textstats.PERPLEXITY_BUCKETS_SQL,
        "versioning_dp_counts": versioning.DP_COUNTS_SQL,
        "sim_pq_train": pq.PQ_TRAIN_SQL,
        "sim_pq_encode": pq.PQ_ENCODE_SQL,
        "sim_knn_pq_adc": pq.KNN_PQ_SQL,
        "retrieval_index_delta": retrieval.INDEX_DELTA_SQL,
        "sim_ivf_rebalance_plan": similarity.IVF_REBALANCE_SQL,
        "text_zipf_fit": textstats.ZIPF_FIT_SQL,
        "text_langid_metrics": textstats.LANGID_METRICS_SQL,
        "pack_curriculum_shards": packing.CURRICULUM_SHARDS_SQL,
        "sim_bitext_mining_exact": similarity.BITEXT_MINING_SQL,
        "retrieval_inverted_index": retrieval.INVERTED_INDEX_SQL,
        "asof_nearest_click": asof.NEAREST_CLICK_TO_PURCHASE_SQL,
        "versioning_corpus_delta": versioning.CORPUS_DELTA_SQL,
        "text_mixture_plan": textstats.MIXTURE_PLAN_SQL,
        "sketch_hll_daily_users": sketches.HLL_DAILY_USERS_SQL,
        "text_decontaminate_bloom": textstats.DECONTAMINATE_BLOOM_SQL,
        "versioning_incremental_stats": versioning.INCREMENTAL_SOURCE_STATS_SQL,
        "sim_kmeans_cells_2level": clustering.KMEANS_CELLS_2LEVEL_SQL,
        "dedup_paragraphs": dedup.PARAGRAPH_DEDUP_SQL,
        "sketch_cms_top_terms": sketches.CMS_TOP_TERMS_SQL,
        "layout_compaction_plan": layout.COMPACTION_PLAN_SQL,
        "diag_key_skew": aggregates.KEY_SKEW_REPORT_SQL,
        "retrieval_rag_ivf": retrieval.RAG_RETRIEVE_IVF_SQL,
        "dedup_source_overlap": dedup.SOURCE_OVERLAP_SQL,
        "versioning_k_anonymous": versioning.K_ANONYMOUS_RELEASE_SQL,
        "text_mixture_apply": textstats.MIXTURE_APPLY_SQL,
        "sketch_hist_quantiles": sketches.HIST_QUANTILES_SQL,
        "dedup_cluster_best": dedup.CLUSTER_BEST_REPRESENTATIVES_SQL,
        "sem_dedup_flat": semdedup.SEMDEDUP_FLAT_SQL,
        "sim_ivf_index_append": similarity.IVF_INDEX_APPEND_SQL,
        "sim_embedding_drift": similarity.EMBEDDING_DRIFT_SQL,
        "pack_efficiency": packing.PACK_EFFICIENCY_SQL,
        "dedup_cluster_sizes": dedup.CLUSTER_SIZE_HISTOGRAM_SQL,
        "dedup_paragraphs_rewrite": dedup.PARAGRAPH_DEDUP_REWRITE_SQL,
        "sim_ann_recall_audit": similarity.ANN_RECALL_AUDIT_SQL,
        "sim_embedding_outliers": similarity.EMBEDDING_OUTLIERS_SQL,
        "layout_zorder_skipping": layout.ZORDER_SKIPPING_STATS_SQL,
        "serving_trending_topics": serving.TRENDING_TOPICS_SQL,
        "sim_contrastive_pairs": similarity.CONTRASTIVE_PAIRS_SQL,
        "sim_knn_ivf_quantized": similarity.KNN_IVF_QUANTIZED_SQL,
        "sim_ivf_index_export": similarity.IVF_INDEX_EXPORT_SQL,
        "sim_ivf_probe_sensitivity": similarity.IVF_PROBE_SENSITIVITY_SQL,
        "dedup_split_leakage": dedup.SPLIT_LEAKAGE_SQL,
        "sim_embedding_sanity": similarity.EMBEDDING_SANITY_SQL,
        "ingest_parse_events": ingest.PARSE_EVENTS_SQL,
        "enrich_documents": enrich.ENRICH_DOCUMENTS_SQL,
        "agg_positivity": aggregates.POSITIVITY_SQL,
        "agg_emotion_counts": aggregates.EMOTION_COUNTS_SQL,
        "agg_emotion_pivot": aggregates.EMOTION_PIVOT_SQL,
        "agg_emotion_share": aggregates.EMOTION_SHARE_SQL,
        "agg_serving_join": aggregates.AGGREGATED_SERVING_SQL,
        "serving_dedup_first": serving.DEDUP_FIRST_SQL,
        "serving_unpivot_emotions": serving.UNPIVOT_EMOTIONS_SQL,
        "serving_topic_share": serving.TOPIC_SHARE_SQL,
        "serving_grains_grouping_sets": serving.GRAINS_GROUPING_SETS_SQL,
        "serving_value_percentiles": serving.VALUE_PERCENTILES_SQL,
        "serving_latest_inputs": serving.LATEST_INPUTS_SQL,
        "serving_hourly_window": serving.HOURLY_WINDOW_SQL,
        "serving_topic_means": serving.TOPIC_MEANS_SQL,
        "serving_distinct_users": serving.DISTINCT_USERS_SQL,
        "serving_sessionize": serving.SESSIONIZE_SQL,
        "serving_session_window_stats": serving.SESSION_WINDOW_STATS_SQL,
        "pack_shuffle_export": packing.SHUFFLE_EXPORT_SQL,
        "agg_salted_event_totals": aggregates.SALTED_EVENT_TOTALS_SQL,
        "serving_hourly_gapfill": serving.HOURLY_GAPFILL_SQL,
        "layout_zorder_events": layout.ZORDER_EVENTS_SQL,
        "serving_rollup_value": serving.ROLLUP_VALUE_SQL,
        "serving_cube_value": serving.CUBE_VALUE_SQL,
        "sem_dedup": semdedup.SEMDEDUP_SQL,
        "rag_retrieve": retrieval.RAG_RETRIEVE_SQL,
        "serving_session_paths": serving.SESSION_PATHS_SQL,
        "multimodal_resize_images": multimodal.RESIZE_IMAGES_SQL,
        "sim_knn_lsh_multi": similarity.KNN_LSH_MULTI_SQL,
        "text_source_stats": textstats.SOURCE_STATS_SQL,
        "serving_value_anomalies": serving.VALUE_ANOMALIES_SQL,
        "text_bpe_pair_counts": textstats.BPE_PAIR_COUNTS_SQL,
        "sim_quantize_embeddings": similarity.QUANTIZE_EMBEDDINGS_SQL,
        "pack_chunk_documents": packing.CHUNK_DOCUMENTS_SQL,
        "pack_sequences": packing.PACK_SEQUENCES_SQL,
        "text_tfidf_top_terms": textstats.TFIDF_TOP_TERMS_SQL,
        "text_repetition_stats": textstats.REPETITION_STATS_SQL,
        "text_decontaminate": textstats.DECONTAMINATE_SQL,
        "text_decontaminate_semantic": (
            semdedup.DECONTAMINATE_SEMANTIC_SQL
        ),
        "text_semdecon_sensitivity": (
            semdedup.DECONTAMINATE_THRESHOLD_SENSITIVITY_SQL
        ),
        "text_decon_screen_agreement": (
            semdedup.DECON_SCREEN_AGREEMENT_SQL
        ),
        "pipeline_funnel_v3": jobs.PIPELINE_FUNNEL_V3_SQL,
        "pipeline_funnel_v4": jobs.PIPELINE_FUNNEL_V4_SQL,
        "dedup_soft_weights": dedup.SOFT_DEDUP_WEIGHTS_SQL,
        "text_weighted_sample_soft": dedup.SOFT_WEIGHTED_SAMPLE_SQL,
        "text_contamination_by_source": (
            semdedup.CONTAMINATION_BY_SOURCE_SQL
        ),
        "tpch_q7_volume_shipping": tpch.Q7_SQL,
        "tpch_q8_market_share": tpch.Q8_SQL,
        "tpch_q9_product_profit": tpch.Q9_SQL,
        "tpch_q10_returned_items": tpch.Q10_SQL,
        "tpch_q11_important_parts": tpch.Q11_SQL,
        "tpch_q13_customer_distribution": tpch.Q13_SQL,
        "tpch_q15_top_supplier": tpch.Q15_SQL,
        "tpch_q16_supplier_part_stats": tpch.Q16_SQL,
        "tpch_q17_small_quantity_revenue": tpch.Q17_SQL,
        "tpch_q2_min_price_supplier": tpch.Q2_SQL,
        "tpch_q20_excess_share_suppliers": tpch.Q20_SQL,
        "tpch_q21_sole_blame_suppliers": tpch.Q21_SQL,
        "tpch_q22_dormant_rich_customers": tpch.Q22_SQL,
        "serving_loyal_purchasers": serving.LOYAL_PURCHASERS_SQL,
        "serving_moving_avg_daily": serving.MOVING_AVG_DAILY_SQL,
        "serving_value_quartiles": serving.VALUE_QUARTILE_ASSIGNMENTS_SQL,
        "serving_value_histogram": serving.VALUE_HISTOGRAM_SQL,
        "serving_cumulative_daily": serving.CUMULATIVE_DAILY_COUNTS_SQL,
        "serving_signup_purchase_funnel": serving.SIGNUP_PURCHASE_FUNNEL_SQL,
        "asof_purchases_last_click": asof.PURCHASES_WITH_LAST_CLICK_SQL,
        "range_errors_near_purchases": asof.ERRORS_NEAR_PURCHASES_SQL,
        "range_clicks_near_errors": asof.CLICKS_NEAR_ERRORS_SQL,
        "tpch_q1_pricing_summary": tpch.Q1_SQL,
        "tpch_q3_shipping_priority": tpch.Q3_SQL,
        "tpch_q5_local_supplier_volume": tpch.Q5_SQL,
        "tpch_top_customers_per_nation": tpch.TOP_CUSTOMERS_SQL,
        "tpch_q6_forecast_revenue": tpch.Q6_SQL,
        "tpch_customers_without_orders": tpch.CUSTOMERS_WITHOUT_ORDERS_SQL,
        "tpch_promo_revenue_share": tpch.PROMO_REVENUE_SHARE_SQL,
        "tpch_q18_large_volume_orders": tpch.Q18_SQL,
        "tpch_q19_disjunctive_revenue": tpch.Q19_SQL,
        "tpch_rich_customers_vs_nation": tpch.RICH_CUSTOMERS_SQL,
        "tpch_q4_order_priority": tpch.Q4_SQL,
        "tpch_q12_priority_by_status": tpch.Q12_SQL,
        "dedup_exact": dedup.EXACT_DEDUP_SQL,
        "dedup_minhash_signatures": dedup.MINHASH_SIGNATURES_SQL,
        "dedup_minhash_lsh_pairs": dedup.MINHASH_LSH_PAIRS_SQL,
        "dedup_simhash": dedup.SIMHASH_SQL,
        "dedup_simhash64_pairs": dedup.SIMHASH64_PAIRS_SQL,
        "dedup_ngram_jaccard_pairs": dedup.NGRAM_JACCARD_PAIRS_SQL,
        "dedup_containment_pairs": dedup.CONTAINMENT_PAIRS_SQL,
        "dedup_clusters": dedup.DEDUP_CLUSTERS_SQL,
        "text_token_stats": textstats.TOKEN_STATS_SQL,
        "text_token_counts": textstats.TOKEN_COUNTS_SQL,
        "text_lang_id": textstats.LANG_ID_SQL,
        "text_doc_fingerprint": textstats.DOC_FINGERPRINT_SQL,
        "text_redact": textstats.REDACT_TEXT_SQL,
        "text_sample_stratified": textstats.SAMPLE_DOCUMENTS_SQL,
        "text_corpus_funnel": textstats.CORPUS_FUNNEL_SQL,
        "sim_knn_bruteforce": similarity.KNN_BRUTEFORCE_SQL,
        "sim_knn_lsh": similarity.KNN_LSH_SQL,
        "sim_knn_ivf": similarity.KNN_IVF_SQL,
        "sim_embedding_near_dup": similarity.EMBEDDING_NEAR_DUP_SQL,
        "sim_label_centroids": similarity.LABEL_CENTROIDS_SQL,
        "sim_kmeans_cells": clustering.KMEANS_CELLS_SQL,
        "sim_cluster_balanced_sample": clustering.CLUSTER_BALANCED_SAMPLE_SQL,
        "multimodal_media_features": multimodal.MEDIA_FEATURES_SQL,
        "multimodal_video_frames": multimodal.VIDEO_FRAMES_SQL,
        # round 3 additions
        "text_train_split": textstats.TRAIN_SPLIT_SQL,
        "text_length_histogram": textstats.LENGTH_HISTOGRAM_SQL,
        "sim_knn_quantized": similarity.KNN_QUANTIZED_SQL,
        "serving_retention_cohorts": serving.RETENTION_COHORTS_SQL,
        "multimodal_audio_chunks": multimodal.AUDIO_CHUNKS_SQL,
        "dedup_minhash_jaccard_est": dedup.MINHASH_JACCARD_ESTIMATE_SQL,
        "serving_props_stats": serving.PROPS_STATS_SQL,
        "serving_weekly_active": serving.WEEKLY_ACTIVE_SQL,
        "text_quality_rules": textstats.QUALITY_RULES_SQL,
        "text_quality_floor_by_source": (
            textstats.QUALITY_FLOOR_BY_SOURCE_SQL
        ),
        "text_common_ngrams": textstats.COMMON_NGRAMS_SQL,
        "sim_embedding_dim_stats": similarity.EMBEDDING_DIM_STATS_SQL,
        "dedup_incremental": dedup.INCREMENTAL_DEDUP_SQL,
        "text_token_budget_sample": textstats.TOKEN_BUDGET_SAMPLE_SQL,
        "dedup_span_stats": dedup.DUP_SPAN_STATS_SQL,
        "text_bigram_lm_score": textstats.BIGRAM_LM_SCORE_SQL,
        "text_weighted_sample": textstats.WEIGHTED_SAMPLE_SQL,
        "text_ngram_diversity": textstats.NGRAM_DIVERSITY_SQL,
        "sim_embedding_covariance": similarity.EMBEDDING_COVARIANCE_SQL,
    }
