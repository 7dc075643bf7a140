"""Central registry mapping SURVEY.md §2 operators to (query, oracle) pairs.

Each entry: name -> callable(spark, sf_dir) -> DataFrame, plus a DuckDB
oracle SQL string in ORACLES. Column names are aliased identically on both
sides (the driver's compare sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from gcp_datalake_utils_spark.operators import (
    asof,
    classify,
    datatest,
    detection,
    graph,
    payload,
    scd2,
    state,
)
from gcp_datalake_utils_spark.operators import detection_oracle as do
from gcp_datalake_utils_spark.formatters import diagrams
from gcp_datalake_utils_spark.formatters import oracles as fmt_oracles
from gcp_datalake_utils_spark.llm import (
    audio,
    boilerplate,
    bpe,
    chunks,
    collocations,
    curation,
    imagededup,
    jpeg,
    flac,
    mp4,
    decontam,
    distmatch,
    domains,
    forget,
    fuzzydedup,
    index,
    lm,
    paradedup,
    packing,
    pq,
    video,
    redact,
    retrieval,
    rollup,
    dedup,
    multimodal,
    ngramdup,
    overlap,
    sampling,
    semdedup,
    similarity,
    similarity_arrow,
    sketches,
    spandedup,
    text,
    tfidf,
)
from gcp_datalake_utils_spark.streaming import ingest as stream_ingest
from gcp_datalake_utils_spark.streaming import stateful as stream_stateful
from gcp_datalake_utils_spark.streaming import windows as stream_windows

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, fn: Callable[[SparkSession, str], DataFrame],
             oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# Retired names -> the registered survivor that carries their oracle.
# The JVM fold plans were folded into their bit-identical Arrow
# kernels; the cohort twins (store-backed _preagg, sweep-line rolling7)
# into the plain names, which read the daily-activity store; the revenue
# and nesting twins (bucketed, preagg, salted, approx-distinct monitor)
# into the plain names, which read the orderkey store.
RETIRED = {
    "repetition_flags": "repetition_flags_arrow",
    "label_centroids": "label_centroids_arrow",
    "embedding_quantize": "embedding_quantize_arrow",
    "kmeans_iterate": "kmeans_iterate_arrow",
    "retention_cohorts_preagg": "retention_cohorts",
    "path_transitions_preagg": "path_transitions",
    "active_users_rolling7_preagg": "active_users_rolling7",
    "active_users_rolling7_sweep": "active_users_rolling7",
    "revenue_by_nation_bucketed": "revenue_by_nation",
    "revenue_by_nation_preagg": "revenue_by_nation",
    "revenue_by_nation_salted": "revenue_by_nation",
    "revenue_by_nation_approx": "revenue_by_nation",
    "order_lines_nested_bucketed": "order_lines_nested",
}


# ---------------------------------------------------------------------------
# The per-round correctness gate hashes only the FIRST 50
# entries of QUERIES. That window is not set by registration order: the
# _WINDOW list at the bottom of this file moves 50 oracled rows to the
# front. tools/window.py derives it from the committed
# CORRECTNESS_r*.json records (red rows, then never-hashed rows, then
# the oldest greens); after a new CORRECTNESS_r<n>.json lands, refresh
# it with `python tools/window.py`. Registration order carries no
# other meaning; tools/check.py always runs ALL entries.
# ---------------------------------------------------------------------------

from gcp_datalake_utils_spark.functions import bloom  # noqa: E402
from gcp_datalake_utils_spark.functions import scale_demos  # noqa: E402
from gcp_datalake_utils_spark.operators import cohort  # noqa: E402
from gcp_datalake_utils_spark.operators import drift  # noqa: E402
from gcp_datalake_utils_spark.operators import funnel  # noqa: E402
from gcp_datalake_utils_spark.operators import nested  # noqa: E402
from gcp_datalake_utils_spark.operators import pivot  # noqa: E402
from gcp_datalake_utils_spark.operators import profile  # noqa: E402
from gcp_datalake_utils_spark.operators import rangejoin  # noqa: E402
from gcp_datalake_utils_spark.sources import evolution  # noqa: E402
from gcp_datalake_utils_spark.sources import partitioned  # noqa: E402
from gcp_datalake_utils_spark.sources import interop  # noqa: E402
from gcp_datalake_utils_spark.sources import zorder  # noqa: E402
from gcp_datalake_utils_spark.sources import snapshots as snap  # noqa: E402

from gcp_datalake_utils_spark.formatters import layout as fmt_layout  # noqa: E402
from gcp_datalake_utils_spark.rules import compiler as rules_compiler  # noqa: E402
from gcp_datalake_utils_spark.rules import config as rules_config  # noqa: E402

register("kmeans_iterate_arrow", similarity_arrow.kmeans_iterate_arrow,
         similarity.KMEANS_ITERATE_ORACLE)
register("lm_doc_scores_arrow", lm.lm_doc_scores_arrow,
         lm.LM_DOC_SCORES_ORACLE)
register("lm_quality_bins_arrow", lm.lm_quality_bins_arrow,
         lm.LM_QUALITY_BINS_ORACLE)
register("value_percentiles_approx", payload.value_percentiles_approx,
         None)
register("embedding_quantize_arrow",
         similarity_arrow.embedding_quantize_arrow,
         similarity.EMBEDDING_QUANTIZE_ORACLE)
register("label_centroids_arrow", similarity_arrow.label_centroids_arrow,
         similarity.LABEL_CENTROIDS_ORACLE)
register("repetition_flags_arrow", text.repetition_flags_arrow,
         text.REPETITION_FLAGS_ORACLE)
register("force_layout_coords",
         lambda s, d: fmt_layout.force_layout_coords(s),
         fmt_layout.FORCE_LAYOUT_COORDS_ORACLE)
register("grid_layout_coords",
         lambda s, d: fmt_layout.grid_layout_coords(s),
         fmt_layout.GRID_LAYOUT_COORDS_ORACLE)
register("rule_compiler_truth",
         lambda s, d: rules_compiler.rule_compiler_truth(s),
         rules_compiler.RULE_COMPILER_TRUTH_ORACLE)
register("profile_orders_approx", profile.profile_orders_approx,
         None)
register("dup_ngram_fraction", ngramdup.dup_ngram_fraction,
         ngramdup.DUP_NGRAM_FRACTION_ORACLE)
register("dup_ngram_stats", ngramdup.dup_ngram_stats,
         ngramdup.DUP_NGRAM_STATS_ORACLE)
register("source_vocab_overlap", overlap.source_vocab_overlap,
         overlap.SOURCE_VOCAB_OVERLAP_ORACLE)
register("cross_source_dup_matrix", dedup.cross_source_dup_matrix,
         dedup.CROSS_SOURCE_DUP_ORACLE)
register("dedup_incremental", dedup.dedup_incremental,
         dedup.DEDUP_INCREMENTAL_ORACLE)
register("forget_propagation", forget.forget_propagation,
         forget.FORGET_PROPAGATION_ORACLE)
register("corpus_budget_selection", curation.corpus_budget_selection,
         curation.CORPUS_BUDGET_ORACLE)
register("admission_pipeline", curation.admission_pipeline,
         curation.ADMISSION_PIPELINE_ORACLE)
register("ingest_screen_stream", stream_ingest.ingest_screen_stream_q,
         stream_ingest.INGEST_SCREEN_ORACLE)
register("retention_cohorts", cohort.retention_cohorts,
         cohort.RETENTION_COHORTS_ORACLE)
register("path_transitions", cohort.path_transitions,
         cohort.PATH_TRANSITIONS_ORACLE)
register("rfm_segments", cohort.rfm_segments,
         cohort.RFM_SEGMENTS_ORACLE)
register("active_users_rolling7", cohort.active_users_rolling7,
         cohort.ACTIVE_USERS_ROLLING7_ORACLE)
register("daily_activity_cdc", cohort.daily_activity_cdc,
         cohort.DAILY_ACTIVITY_CDC_ORACLE)
# round 9: domain/URL curation family (r8 verdict ask #7)
register("domain_quota_sample", domains.domain_quota_sample,
         domains.DOMAIN_QUOTA_SAMPLE_ORACLE)
register("domain_quality_prior", domains.domain_quality_prior,
         domains.DOMAIN_QUALITY_PRIOR_ORACLE)
register("domain_dedup_rollup", domains.domain_dedup_rollup,
         domains.DOMAIN_DEDUP_ROLLUP_ORACLE)
# round 9: tokenizer-aware packing twin (r8 verdict ask #8)
register("sequence_packing_bpe", packing.sequence_packing_bpe,
         packing.SEQUENCE_PACKING_BPE_ORACLE)
# round 9: dynamic partition pruning over the day-partitioned store
register("events_dpp_join", partitioned.events_dpp_join,
         partitioned.EVENTS_DPP_JOIN_ORACLE)
# round 9: per-source decile calibration (group-boundary ntile)
register("source_length_deciles", curation.source_length_deciles,
         curation.SOURCE_LENGTH_DECILES_ORACLE)
# round 9: streaming maintainer of the daily-activity store (stream
# state == batch full recompute, same oracle as daily_activity_cdc)
register("daily_activity_stream", stream_windows.daily_activity_stream_q,
         cohort.DAILY_ACTIVITY_CDC_ORACLE)
# round 10: stream -> STORE wiring (r9 verdict ask #4) — the drained
# finalized day windows are APPENDED into the user-bucketed store and
# the post-append store itself is hashed against the full recompute
register("daily_activity_store_stream",
         stream_windows.daily_activity_store_stream_q,
         cohort.DAILY_ACTIVITY_CDC_ORACLE)
register("source_length_deciles_approx",
         curation.source_length_deciles_approx, None)
# round 9: semantic decontamination (bench-matrix broadcast GEMM)
register("embedding_decontamination",
         similarity_arrow.embedding_decontamination,
         similarity_arrow.EMBEDDING_DECONTAMINATION_ORACLE)
# round 10: substring-span dedup removal (r9 verdict ask #1)
register("span_dedup_removal", spandedup.span_dedup_removal,
         spandedup.SPAN_DEDUP_REMOVAL_ORACLE)
register("span_dedup_rollup", spandedup.span_dedup_rollup,
         spandedup.SPAN_DEDUP_ROLLUP_ORACLE)
# round 10: benchmark-span SCRUBBING — the decontamination transform
# (remove contaminated spans, keep the document) built from the span
# sweep + the broadcast benchmark gram set
register("contamination_span_scrub", spandedup.contamination_span_scrub,
         spandedup.CONTAMINATION_SPAN_SCRUB_ORACLE)
register("contamination_scrub_rollup",
         spandedup.contamination_scrub_rollup,
         spandedup.CONTAMINATION_SCRUB_ROLLUP_ORACLE)
# round 10: distribution-matching selection — hashed-feature NB
# quality/domain classifier + DSIR importance weights (Xie et al.)
register("nb_lang_classifier", distmatch.nb_lang_classifier,
         distmatch.NB_LANG_CLASSIFIER_ORACLE)
register("dsir_importance_weights", distmatch.dsir_importance_weights,
         distmatch.DSIR_IMPORTANCE_WEIGHTS_ORACLE)
# round 10: deterministic training-shard shuffle — the pipeline's
# last step (N independent in-partition sorts, no global sort)
register("training_shard_shuffle", sampling.training_shard_shuffle,
         sampling.TRAINING_SHARD_SHUFFLE_ORACLE)
# round 11: token-balanced contiguous sharding — the count-balanced
# shuffle's token-mass twin (distributed cumsum, no global window)
register("token_balanced_shards", sampling.token_balanced_shards,
         sampling._token_balanced_oracle())
# round 11: real RIFF/PCM WAV codec (encode -> chunk-walking decode ->
# audio features); the codec stub now covers compressed formats only
register("wav_decode_features", multimodal.wav_decode_features,
         multimodal.WAV_DECODE_FEATURES_ORACLE)
register("pgm_resize_features", multimodal.pgm_resize_features,
         multimodal.PGM_RESIZE_FEATURES_ORACLE)
# round 12: real PNG codec via stdlib zlib (CRC-verified chunk walk,
# multi-IDAT inflate, all five scanline unfilters) — the first
# COMPRESSED format decoded for real; the stub now covers only
# formats whose codecs the container genuinely lacks (JPEG/MP4/FLAC)
register("png_decode_features", multimodal.png_decode_features,
         multimodal.PNG_DECODE_FEATURES_ORACLE)
# round 12: incremental curation funnel — admit a new batch against
# the CONVERGED store (store-precedence near-dup screen + batch
# exact/fuzzy/quality), oracle = from-scratch SQL recompute of the
# same semantics (the dedup_incremental / daily_activity_cdc pattern)
register("curation_incremental", curation.curation_incremental,
         curation._curation_incremental_oracle())
# round 12: image near-dup dedup over REAL-decoded PNG pixels —
# perceptual dHash (area-mean 8x9 grid, 64 comparison bits) +
# 4x16-bit banded Hamming join (the simhash64 shape on the
# multimodal column)
register("image_dhash", imagededup.image_dhash,
         imagededup.IMAGE_DHASH_ORACLE)
register("image_near_dups", imagededup.image_near_dups,
         imagededup.IMAGE_NEAR_DUPS_ORACLE)
# round 12: baseline JPEG codec (Annex K tables, Huffman + DCT, FF
# stuffing) - lossy, so the row is a rows-only round-trip-error
# monitor (the bpe_token_stats convention), pytest-bracketed incl. a
# hand-assembled golden bitstream
register("jpeg_roundtrip_quality", jpeg.jpeg_roundtrip_quality, None)
# round 13: baseline FLAC codec (fixed predictors + Rice coding,
# CRC-8/16, STREAMINFO MD5 self-check) — LOSSLESS, so unlike JPEG the
# row is fully oracled: features come from the decoded samples and
# the oracle re-derives them from the generative formula (n_frames
# additionally gates the framing).
register("flac_decode_features", flac.flac_decode_features,
         flac.FLAC_DECODE_FEATURES_ORACLE)
# round 13: ISO BMFF (MP4) container metadata — the box grammar is
# real (builder + recursive walker, largesize + unknown-box skip);
# only the codec PAYLOAD decode remains stubbed in decode_media.
register("mp4_metadata", mp4.mp4_metadata, mp4.MP4_METADATA_ORACLE)
# round 13: product quantization (Jegou et al. 2011) — per-subspace
# Lloyd codebooks, 8-code encodings, ADC top-k, recall audit; the
# compressed-storage half of IVF-PQ (the >= 1e9-vector memory lever).
# round 13: audio fingerprinting — Walsh-Hadamard sequency landmarks
# (integer-exact cross-engine by construction, no libm in the gate)
# through the real WAV round-trip; near-dup completes the
# four-modality dedup matrix (text / image / video / audio).
register("audio_fingerprint", audio.audio_fingerprint,
         audio.AUDIO_FINGERPRINT_ORACLE)
register("audio_near_dups", audio.audio_near_dups,
         audio.AUDIO_NEAR_DUPS_ORACLE)
# round 13: MJ-PNG video pipeline — real multi-sample MP4 tables
# (variable stsz + stsc + stco), sample-table-driven frame
# extraction, lossless per-frame decode, stride sampling, and video
# near-dup over frame signatures through the hybrid banded engine.
register("video_frame_sample", video.video_frame_sample,
         video.VIDEO_FRAME_SAMPLE_ORACLE)
register("video_near_dups", video.video_near_dups,
         video.VIDEO_NEAR_DUPS_ORACLE)
register("pq_codes", pq.pq_codes, pq.PQ_CODES_ORACLE)
register("pq_codes_arrow", pq.pq_codes_arrow, pq.PQ_CODES_ORACLE)
register("pq_codes_sampled", pq.pq_codes_sampled,
         pq.PQ_CODES_SAMPLED_ORACLE)
register("ivf_pq_topk", pq.ivf_pq_topk, pq.IVF_PQ_TOPK_ORACLE)
register("pq_adc_topk", pq.pq_adc_topk, pq.PQ_ADC_TOPK_ORACLE)
register("pq_recall_audit", pq.pq_recall_audit,
         pq.PQ_RECALL_AUDIT_ORACLE)
# round 12: the updated per-source ledger after a batch admission
register("curation_incremental_rollup",
         curation.curation_incremental_rollup,
         curation._curation_incremental_rollup_oracle())
# round 10: broadcast-vocab BPE tokenizer (r9 verdict ask #7);
# token_stats/packing rows are rows-only by design (iterative merge
# training is not SQL-expressible) and pytest-bracketed vs a driver
# replica; pair_counts is the hash-checked training-input anchor
register("bpe_pair_counts", bpe.bpe_pair_counts,
         bpe.BPE_PAIR_COUNTS_ORACLE)
register("bpe_token_stats", bpe.bpe_token_stats, None)
register("sequence_packing_bpe_real", packing.sequence_packing_bpe_real,
         None)
# round 10: unpruned control for the DPP row — same result by
# construction (same oracle); bench reports the pruned-vs-unpruned
# Spark delta as the row's headline
register("events_dpp_join_unpruned", partitioned.events_dpp_join_unpruned,
         partitioned.EVENTS_DPP_JOIN_ORACLE)
# round 11: fuzzy dedup as ONE restartable pipeline (r10 verdict ask
# #1) — shingle->LSH->CC->canonicalize->remove with durable stage +
# per-iteration checkpoints; doc-level verdict + removal ledger
register("fuzzy_dedup_removal", fuzzydedup.fuzzy_dedup_removal,
         fuzzydedup.FUZZY_DEDUP_REMOVAL_ORACLE)
register("fuzzy_dedup_rollup", fuzzydedup.fuzzy_dedup_rollup,
         fuzzydedup.FUZZY_DEDUP_ROLLUP_ORACLE)
# round 11: quantized ANN at rest (r10 verdict ask #2) — int8-code
# prefilter feeds the banded near-dup verify; only survivors touch
# float vectors
register("embedding_near_dups_quantized",
         similarity.embedding_near_dups_quantized,
         similarity.EMBEDDING_NEAR_DUP_QUANTIZED_ORACLE)
# round 11: CLI display-toggle golden-line delta rows (r10 verdict ask
# #6) — one oracled row per reference main.py:49-63 toggle
register("mermaid_erd_lines_untyped",
         lambda s, d: diagrams.mermaid_lines(s, show_column_types=False),
         fmt_oracles.mermaid_lines_oracle(show_column_types=False))
register("plantuml_erd_lines_nonull",
         lambda s, d: diagrams.plantuml_lines(
             s, show_column_nullable=False),
         fmt_oracles.plantuml_lines_oracle(show_column_nullable=False))
register("mermaid_erd_lines_noviews",
         lambda s, d: diagrams.mermaid_lines_noviews(s),
         fmt_oracles.mermaid_lines_oracle(include_views=False,
                                          include_external=False))
register("drawio_erd_lines_dark",
         lambda s, d: diagrams.drawio_lines(s, theme="dark"),
         fmt_oracles.drawio_lines_oracle(theme="dark"))
# round 11: SemDeDup (Abbas et al. 2023) — k-means quantizer ->
# cluster-banded eps-pairs -> CC -> keep the least-centroid-similar
# representative per semantic group
register("semantic_dedup", semdedup.semantic_dedup,
         semdedup.SEMANTIC_DEDUP_ORACLE)
register("semantic_dedup_rollup", semdedup.semantic_dedup_rollup,
         semdedup.SEMANTIC_DEDUP_ROLLUP_ORACLE)
# round 11: the production curation FUNNEL — exact -> fuzzy(LSH over
# exact survivors) -> quality, per-doc monotone verdict + per-source
# stage ledger
register("curation_funnel", curation.curation_funnel,
         curation._funnel_oracle())
register("curation_funnel_rollup", curation.curation_funnel_rollup,
         curation._funnel_rollup_oracle())
register("jsonl_roundtrip", interop.jsonl_roundtrip,
         interop.JSONL_ROUNDTRIP_ORACLE)
register("csv_roundtrip", interop.csv_roundtrip,
         interop.CSV_ROUNDTRIP_ORACLE)

register("user_sessions", stream_windows.user_sessions,
         stream_windows.USER_SESSIONS_ORACLE)
register("windowed_counts_stream", stream_windows.windowed_counts_stream_q,
         stream_windows.WINDOWED_COUNTS_STREAM_ORACLE)
register("dedup_stream", stream_windows.dedup_stream_q,
         stream_windows.DEDUP_STREAM_ORACLE)
register("sliding_counts_stream", stream_windows.sliding_counts_stream_q,
         stream_windows.SLIDING_COUNTS_STREAM_ORACLE)
register("closed_sessions_stream",
         stream_stateful.closed_sessions_stream_q,
         stream_stateful.CLOSED_SESSIONS_ORACLE)
register("enriched_segment_stream", stream_windows.enriched_segment_stream_q,
         stream_windows.ENRICHED_SEGMENT_STREAM_ORACLE)
register("click_attribution_stream",
         stream_windows.click_attribution_stream_q,
         stream_windows.CLICK_ATTRIBUTION_STREAM_ORACLE)
register("dedup_near_pairs", dedup.near_dup_pairs, dedup.NEAR_DUP_ORACLE)
register("dedup_groups", dedup.dedup_groups, dedup.DEDUP_GROUPS_ORACLE)
register("dedup_simhash", dedup.simhash, dedup.SIMHASH_ORACLE)
register("simhash_near_pairs", dedup.simhash_near_pairs,
         dedup.SIMHASH_NEAR_PAIRS_ORACLE)
register("decontamination_hashed", decontam.decontamination_hashed,
         decontam.DECONTAMINATION_ORACLE)
register("decontamination", decontam.decontamination,
         decontam.DECONTAMINATION_ORACLE)
register("text_token_stats", text.token_stats, text.TOKEN_STATS_ORACLE)
register("text_fingerprints", text.fingerprints,
         text.FINGERPRINTS_ORACLE)
register("vocab_entropy", text.vocab_entropy,
         text.VOCAB_ENTROPY_ORACLE)
register("doc_chunks", chunks.doc_chunks, chunks.DOC_CHUNKS_ORACLE)
register("asof_last_order", asof.asof_last_order,
         asof.ASOF_LAST_ORDER_ORACLE)
register("scd2_history", scd2.scd2_history, scd2.SCD2_HISTORY_ORACLE)
register("corpus_curation", curation.curate, curation.CURATE_ORACLE)
register("train_val_split", curation.train_val_split,
         curation.TRAIN_VAL_SPLIT_ORACLE)
register("pii_redaction", redact.pii_redaction,
         redact.PII_REDACTION_ORACLE)
register("boilerplate_flags", boilerplate.boilerplate_flags,
         boilerplate.BOILERPLATE_FLAGS_ORACLE)
register("media_frame_sample", multimodal.media_frame_sample,
         multimodal.MEDIA_FRAME_SAMPLE_ORACLE)
register("media_resize", multimodal.media_resize,
         multimodal.MEDIA_RESIZE_ORACLE)
register("multimodal_features", multimodal.media_features,
         multimodal.MEDIA_FEATURES_ORACLE)
register("similarity_kmeans_assign", similarity.kmeans_assign,
         similarity.KMEANS_ASSIGN_ORACLE)
register("value_percentiles", payload.value_percentiles,
         payload.VALUE_PERCENTILES_ORACLE)
register("rules_file_source",
         lambda s, d: rules_config.rules_file_source(s),
         rules_config.RULES_FILE_SOURCE_ORACLE)

register("revenue_by_nation", payload.revenue_by_nation,
         payload.REVENUE_BY_NATION_ORACLE)
register("profile_orders", profile.profile_orders,
         profile.PROFILE_ORDERS_ORACLE)
register("paragraph_dedup", paradedup.paragraph_dedup,
         paradedup.PARAGRAPH_DEDUP_ORACLE)
register("funnel_conversion", funnel.funnel_conversion,
         funnel.FUNNEL_CONVERSION_ORACLE)
register("funnel_completions_stream",
         stream_stateful.funnel_completions_stream_q,
         stream_stateful.FUNNEL_COMPLETIONS_ORACLE)
register("hll_distinct", sketches.hll_distinct,
         sketches.HLL_DISTINCT_ORACLE)
register("hll_grouped", sketches.hll_grouped,
         sketches.HLL_GROUPED_ORACLE)
register("cms_heavy_hitters", sketches.cms_heavy_hitters,
         sketches.CMS_HEAVY_HITTERS_ORACLE)
register("bloom_prefilter_audit", bloom.bloom_prefilter_audit,
         bloom.BLOOM_PREFILTER_AUDIT_ORACLE)
register("incremental_agg", snap.incremental_agg_query,
         snap.INCREMENTAL_AGG_ORACLE)
register("retention_policy", snap.retention_policy_query,
         snap.RETENTION_POLICY_ORACLE)
register("snapshot_diff", snap.snapshot_diff_query,
         snap.SNAPSHOT_DIFF_ORACLE)
register("restore_summary", snap.restore_summary_query,
         snap.RESTORE_SUMMARY_ORACLE)
register("detect_foreign_key",
         lambda s, d: detection.detect_foreign_keys(s),
         do.strategy_oracle("j1"))
register("pagerank_tables", graph.pagerank_query,
         graph.pagerank_oracle())
register("stratified_sample", sampling.stratified_sample,
         sampling.STRATIFIED_SAMPLE_ORACLE)
register("events_by_type_two_phase", scale_demos.events_by_type_two_phase,
         scale_demos.EVENTS_BY_TYPE_ORACLE)
register("prefix_filter_pairs", dedup.prefix_filter_pairs,
         dedup.PREFIX_FILTER_PAIRS_ORACLE)
register("simhash64", dedup.simhash64, dedup.SIMHASH64_ORACLE)

register("simhash64_near_pairs", dedup.simhash64_near_pairs,
         dedup.SIMHASH64_NEAR_PAIRS_ORACLE)
register("pmi_collocations", collocations.pmi_collocations,
         collocations.PMI_COLLOCATIONS_ORACLE)
register("value_drift_psi", drift.value_drift_psi,
         drift.VALUE_DRIFT_PSI_ORACLE)
register("corpus_mixture", sampling.corpus_mixture,
         sampling.CORPUS_MIXTURE_ORACLE)
register("drawio_erd_lines",
         lambda s, d: diagrams.drawio_lines(s),
         fmt_oracles.drawio_lines_oracle())
register("hll_distinct_native", sketches.hll_distinct_native,
         sketches.HLL_DISTINCT_NATIVE_ORACLE)
register("profile_orders_fast", profile.profile_orders_fast,
         profile.PROFILE_ORDERS_FAST_ORACLE)
register("lm_doc_scores", lm.lm_doc_scores, lm.LM_DOC_SCORES_ORACLE)
register("lm_doc_scores_pruned", lm.lm_doc_scores_pruned,
         lm.LM_DOC_SCORES_PRUNED_ORACLE)
register("lm_quality_bins", lm.lm_quality_bins,
         lm.LM_QUALITY_BINS_ORACLE)
register("weighted_sample", sampling.weighted_sample,
         sampling.WEIGHTED_SAMPLE_ORACLE)
register("detect_naming_convention",
         lambda s, d: detection.detect_naming_conventions(s),
         do.strategy_oracle("j4"))
register("detect_enhanced_pk_fk",
         lambda s, d: detection.detect_enhanced_pk_fk(s),
         do.strategy_oracle("j2"))
register("detect_data_type_match",
         lambda s, d: detection.detect_data_type_matches(s),
         do.strategy_oracle("j3"))
register("detect_custom_rules",
         lambda s, d: detection.apply_custom_rules(s),
         do.strategy_oracle("j5"))
register("data_test_report", datatest.data_test_report,
         datatest.data_test_oracle())
register("adaptive_sample_size", datatest.adaptive_sample_sizes,
         datatest.adaptive_sample_oracle())
register("detect_pipeline",
         lambda s, d: detection.detect_all(s),
         do.pipeline_oracle())
register("classify_pk_fk", classify.classification_query,
         classify.classification_oracle())
register("schema_complexity", classify.schema_complexity_query,
         classify.schema_complexity_oracle())
register("top_orders_per_customer", payload.top_orders_per_customer,
         payload.TOP_ORDERS_ORACLE)
register("frequency_distribution", payload.frequency_distribution,
         payload.FREQUENCY_ORACLE)
register("distinct_cardinalities", payload.distinct_cardinalities,
         payload.DISTINCT_ORACLE)
register("orphan_users", payload.orphan_users,
         payload.ORPHAN_USERS_ORACLE)
register("common_keys", payload.common_keys,
         payload.COMMON_KEYS_ORACLE)
register("scalar_battery", payload.scalar_battery,
         payload.SCALAR_BATTERY_ORACLE)
register("events_hourly", payload.events_hourly,
         payload.EVENTS_HOURLY_ORACLE)
register("audit_window_scan", payload.audit_window_scan,
         payload.AUDIT_WINDOW_ORACLE)
register("timestamp_battery", payload.timestamp_battery,
         payload.TIMESTAMP_BATTERY_ORACLE)
register("graph_roots", graph.roots_query, graph.roots_oracle())
register("graph_bfs_levels", graph.bfs_levels_query,
         graph.bfs_levels_oracle())
register("checksum_gate", state.checksum_gate,
         state.checksum_gate_oracle())
register("state_staleness", state.staleness, state.staleness_oracle())
register("quality_report", state.quality_report,
         state.quality_report_oracle())
register("quality_by_method", state.quality_by_method,
         state.quality_by_method_oracle())
register("mermaid_erd_lines",
         lambda s, d: diagrams.mermaid_lines(s),
         fmt_oracles.mermaid_lines_oracle())
register("plantuml_erd_lines",
         lambda s, d: diagrams.plantuml_lines(s),
         fmt_oracles.plantuml_lines_oracle())
register("dedup_exact_groups", dedup.exact_dup_groups,
         dedup.EXACT_DUP_ORACLE)
register("sequence_packing", packing.sequence_packing,
         packing.SEQUENCE_PACKING_ORACLE)
register("text_language_id", text.language_id, text.LANGUAGE_ID_ORACLE)
register("c4_quality_filters", text.c4_quality_filters,
         text.C4_QUALITY_FILTERS_ORACLE)
register("dedup_minhash_signatures", dedup.minhash_signatures,
         dedup.MINHASH_ORACLE)
register("dedup_lsh_buckets", dedup.lsh_bucket_stats,
         dedup.LSH_BUCKETS_ORACLE)
register("dedup_keep_best", dedup.dedup_keep_best,
         dedup._keep_best_oracle())
register("corpus_rollup", rollup.corpus_rollup,
         rollup.CORPUS_ROLLUP_ORACLE)
register("similarity_cosine_topk", similarity.cosine_topk,
         similarity.COSINE_TOPK_ORACLE)
register("similarity_ivf_topk", similarity.ivf_topk,
         similarity.IVF_TOPK_ORACLE)
register("similarity_rp_lsh_buckets", similarity.rp_lsh_buckets,
         similarity.RP_LSH_BUCKETS_ORACLE)
register("catalog_tables", payload.catalog_tables,
         payload.catalog_tables_oracle())
register("sample_scan", payload.sample_scan, payload.SAMPLE_SCAN_ORACLE)
register("table_batching_rank", payload.table_batching_rank,
         payload.table_batching_oracle())
register("events_props_json", payload.events_props_json,
         payload.EVENTS_PROPS_JSON_ORACLE)
register("relationships_per_table", state.relationships_per_table,
         state.relationships_per_table_oracle())
register("state_upsert", state.state_upsert, state.state_upsert_oracle())
register("cache_lookup", state.cache_lookup, state.cache_lookup_oracle())
register("metadata_richness", payload.metadata_richness,
         payload.metadata_richness_oracle())
register("batch_ann64_topk", similarity.batch_ann64_topk,
         similarity.BATCH_ANN64_TOPK_ORACLE)
register("order_lines_nested", nested.order_lines_nested,
         nested.ORDER_LINES_NESTED_ORACLE)
register("robust_outliers", payload.robust_outliers,
         payload.ROBUST_OUTLIERS_ORACLE)
register("corpus_mixture_temp", sampling.corpus_mixture_temp,
         sampling.CORPUS_MIXTURE_TEMP_ORACLE)
register("pricing_summary", payload.pricing_summary,
         payload.PRICING_SUMMARY_ORACLE)
register("bm25_topk", retrieval.bm25_topk, retrieval.BM25_TOPK_ORACLE)
register("bm25_topk_capped", retrieval.bm25_topk_capped,
         retrieval.BM25_TOPK_CAPPED_ORACLE)
register("inverted_index", index.inverted_index,
         index.INVERTED_INDEX_ORACLE)
register("tfidf_top_terms", tfidf.tfidf_top_terms,
         tfidf.TFIDF_TOP_TERMS_ORACLE)
register("corpus_vocabulary", tfidf.corpus_vocabulary,
         tfidf.CORPUS_VOCABULARY_ORACLE)
register("events_in_type_windows", rangejoin.events_in_type_windows,
         rangejoin.EVENTS_IN_TYPE_WINDOWS_ORACLE)
register("ann_recall_audit", similarity.ann_recall_audit,
         similarity.ANN_RECALL_AUDIT_ORACLE)
register("cosine_topk_arrow", similarity_arrow.cosine_topk_arrow,
         similarity.COSINE_TOPK_ORACLE)
register("ann_rerank", similarity_arrow.ann_rerank,
         similarity_arrow.ANN_RERANK_ORACLE)
register("embedding_near_dups_auto", similarity.embedding_near_dups_auto,
         similarity.EMBEDDING_NEAR_DUPS_AUTO_ORACLE)
# round 13 (r12 verdict asks #4 and #6): the label-group-sharded
# candidate path is result-identical to the auto path by construction
# (pytest set-equality) — registered over the PLANTED corpus so the
# driver hash is evidence on 12 real pairs, not the empty set (auto
# itself hashes 0 rows at sf0.01; the r11 quantized-row lesson). This
# makes the declared >= 1e9-vector plan driver-gated, not pytest-only.
# The 128-dim row gates the dims-generic plane family at a width with
# no historical evidence (64 was the only driver-hashed width).
register("embedding_near_dups_sharded",
         similarity.embedding_near_dups_sharded_planted,
         similarity.EMBEDDING_NEAR_DUPS_SHARDED_ORACLE)
register("embedding_near_dups_128", similarity.embedding_near_dups_128,
         similarity.EMBEDDING_NEAR_DUPS_128_ORACLE)
register("embedding_near_dups64", similarity.embedding_near_dups64,
         similarity.EMBEDDING_NEAR_DUP64_ORACLE)
register("evolving_read", evolution.evolving_read,
         evolution.EVOLVING_READ_ORACLE)
register("events_pivot", pivot.events_pivot,
         pivot.EVENTS_PIVOT_ORACLE)
register("events_rolling", pivot.events_rolling,
         pivot.EVENTS_ROLLING_ORACLE)
register("events_gapfill", pivot.events_gapfill,
         pivot.EVENTS_GAPFILL_ORACLE)
register("zorder_layout", zorder.zorder_layout,
         zorder.ZORDER_LAYOUT_ORACLE)
register("similarity_embedding_near_dups", similarity.embedding_near_dups,
         similarity.EMBEDDING_NEAR_DUP_ORACLE)
register("batch_ann_topk", similarity.batch_ann_topk,
         similarity.BATCH_ANN_TOPK_ORACLE)
register("similarity_rp_lsh_topk", similarity.rp_lsh_topk,
         similarity.RP_LSH_TOPK_ORACLE)
# round 10: incremental embedding admission against the persisted
# corpus signature store (the embedding analog of dedup_incremental)
register("embedding_incremental_dedup",
         similarity.embedding_incremental_dedup,
         similarity.EMBEDDING_INCREMENTAL_DEDUP_ORACLE)


# The correctness window: the first 50 entries of QUERIES.
# Generated by tools/window.py from the committed CORRECTNESS_r*.json
# records; refresh it with `python tools/window.py` after a new record
# lands (tests/test_window.py fails until it is refreshed).
_WINDOW = [
    "image_dhash",
    "video_frame_sample",
    "pq_codes",
    "pq_codes_arrow",
    "pq_codes_sampled",
    "sequence_packing",
    "text_language_id",
    "dedup_minhash_signatures",
    "dedup_lsh_buckets",
    "dedup_keep_best",
    "corpus_rollup",
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "similarity_rp_lsh_buckets",
    "catalog_tables",
    "sample_scan",
    "table_batching_rank",
    "events_props_json",
    "relationships_per_table",
    "state_upsert",
    "cache_lookup",
    "metadata_richness",
    "kmeans_iterate_arrow",
    "lm_doc_scores_arrow",
    "lm_quality_bins_arrow",
    "embedding_quantize_arrow",
    "label_centroids_arrow",
    "repetition_flags_arrow",
    "force_layout_coords",
    "rule_compiler_truth",
    "dup_ngram_fraction",
    "dup_ngram_stats",
    "source_vocab_overlap",
    "cross_source_dup_matrix",
    "dedup_incremental",
    "fuzzy_dedup_removal",
    "fuzzy_dedup_rollup",
    "semantic_dedup",
    "semantic_dedup_rollup",
    "curation_funnel",
    "curation_funnel_rollup",
    "token_balanced_shards",
    "wav_decode_features",
    "pgm_resize_features",
    "mermaid_erd_lines_untyped",
    "plantuml_erd_lines_nonull",
    "mermaid_erd_lines_noviews",
    "drawio_erd_lines_dark",
    "drawio_erd_lines",
    "forget_propagation",
]


def _rotate_window(window: list[str]) -> None:
    """Move ``window`` to the front of QUERIES; the other entries keep
    their registration order."""
    global QUERIES
    assert len(window) == 50 == len(set(window)), window
    bad = [q for q in window if q not in QUERIES or q not in ORACLES]
    assert not bad, f"window names unregistered or without oracle: {bad}"
    rest = [k for k in QUERIES if k not in set(window)]
    QUERIES = {k: QUERIES[k] for k in [*window, *rest]}


_rotate_window(_WINDOW)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return detection.detect_all(spark)
