"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md): one discarded noop-sink warm-up run per query
— plus, for small-result queries that will be timed through collect(),
one further discarded collect-path warm-up (round 6 change: the collect
path JIT/Arrow setup otherwise lands in the first timed run) — then the
median of 3 timed runs; value = sum of per-query medians. Each timed
run executes the full plan to completion exactly ONCE — collect for
small results, the noop sink for large ones (the warm-up run determines
which; count() would let Catalyst eliminate row-preserving work) — the
same single-execution protocol as the DuckDB baseline.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family that touches payload data at
# scale (metadata-only queries are constant-time and excluded)
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_customer",
    "data_test_report",
    "events_hourly",
    "user_sessions",
    "text_token_stats",
    "dedup_near_pairs",
    "similarity_cosine_topk",
    "similarity_rp_lsh_topk",
    "corpus_curation",
    "asof_last_order",
    "detect_pipeline",
    # round-2 additions: training-data pipeline extensions
    "dedup_groups",
    "decontamination",
    "tfidf_top_terms",
    "sequence_packing",
    "closed_sessions_stream",
    "stratified_sample",
    "pii_redaction",
    "boilerplate_flags",
    "inverted_index",
    "scd2_history",
    # round-3 additions (snapshot_diff / restore_summary are excluded:
    # they time parquet snapshot WRITES, not query execution)
    "events_in_type_windows",
    "corpus_mixture",
    "enriched_segment_stream",
    # round-4 additions: production-width signature spaces + nested
    "simhash64_near_pairs",
    "batch_ann64_topk",
    "order_lines_nested",
    "hll_distinct",
    "cms_heavy_hitters",
    "bloom_prefilter_audit",
    "prefix_filter_pairs",
    "funnel_conversion",
    "robust_outliers",
    "hll_grouped",
    "funnel_completions_stream",
    "value_drift_psi",
    "pmi_collocations",
    # round-4 continuation: paragraph dedup, LM quality scoring,
    # weighted sampling, ANN quality audit, Arrow scoring path
    "paragraph_dedup",
    "lm_doc_scores",
    "weighted_sample",
    "ann_recall_audit",
    "cosine_topk_arrow",
    "ann_rerank",
    "lm_quality_bins",
    "embedding_near_dups64",
    "profile_orders",
    "events_pivot",
    "events_rolling",
    "events_gapfill",
    "zorder_layout",
    # evolving_read excluded: it times parquet snapshot WRITES (same
    # rule as snapshot_diff / restore_summary)
    # round-5 additions: the native-sketch HLL twin and the hash-agg
    # bounded-prefix profile
    # (drawio_erd_lines excluded: metadata-scale, constant-time)
    "hll_distinct_native",
    "profile_orders_fast",
    # round-7 additions: the Arrow kernels for interpreted-fold
    # hotspots (repetition stats, k-means, LM scoring, int8 quantizer,
    # label centroids) and the no-Expand approx-distinct profile
    # (force_layout_coords / rule_compiler_truth excluded: metadata-
    # scale, constant-time)
    "repetition_flags_arrow",
    "profile_orders_approx",
    "kmeans_iterate_arrow",
    "lm_doc_scores_arrow",
    "lm_quality_bins_arrow",
    "value_percentiles_approx",
    "embedding_quantize_arrow",
    "label_centroids_arrow",
    # late-r7 additions: substring-level dedup statistic, the
    # single-scan source-vocabulary overlap matrix, and the corpus
    # governance pair (incremental admission dedup is a Spark win at
    # every measured SF: 0.39x DuckDB at sf0.1, 0.09x at sf1)
    "dup_ngram_fraction",
    "dup_ngram_stats",
    "source_vocab_overlap",
    "dedup_incremental",
    "corpus_budget_selection",
    # round-8 additions: the scale twins that close the r7 weak rows
    # (pruned LM, auto-band near-dups) benched NEXT TO their anchors,
    # plus the cohort family (r7 verdict ask #8:
    # active_users_rolling7 had no bench row)
    "lm_doc_scores_pruned",
    "embedding_near_dups_auto",
    "retention_cohorts",
    "path_transitions",
    "active_users_rolling7",
    # late-r8: retrieval + hashed decontamination twin
    "bm25_topk",
    "rfm_segments",
    "decontamination_hashed",
    # round-9 additions: the df-capped BM25 twin, the domain curation
    # family, and the BPE-currency packing twin
    "bm25_topk_capped",
    "domain_quota_sample",
    "domain_quality_prior",
    "domain_dedup_rollup",
    "sequence_packing_bpe",
    # late-r9: DPP store query (store write lands in warm-up), the
    # per-source decile calibration, and the CDC maintenance gate
    # (computes from events directly — not the store-write class)
    "events_dpp_join",
    "source_length_deciles",
    "daily_activity_cdc",
    "daily_activity_stream",
    "embedding_decontamination",
    "source_length_deciles_approx",
    # round-10 additions: substring-span dedup removal + rollup, the
    # broadcast-vocab BPE family (pair counts anchor, trained-vocab
    # token stats, real-BPE packing twin), and the unpruned DPP
    # control — the pruned-vs-unpruned Spark delta is the DPP row's
    # headline measurement (r9 verdict ask #6), not the DuckDB ratio.
    # daily_activity_store_stream is excluded: it times bucketed store
    # WRITES plus the stream drain (same rule as snapshot_diff /
    # restore_summary / evolving_read).
    "span_dedup_removal",
    "span_dedup_rollup",
    "bpe_pair_counts",
    "bpe_token_stats",
    "sequence_packing_bpe_real",
    "events_dpp_join_unpruned",
    # incremental embedding admission (signature-store build lands in
    # the discarded warm-up, like the other _ensure stores)
    "embedding_incremental_dedup",
    # round-10 late additions: benchmark-span scrubbing and the
    # distribution-matching selection family (hashed-feature NB
    # classifier + DSIR importance weights)
    "contamination_span_scrub",
    "contamination_scrub_rollup",
    "nb_lang_classifier",
    "dsir_importance_weights",
    "training_shard_shuffle",
    # round-11 additions: the composed restartable fuzzy-dedup
    # transform (doc-level verdict + removal ledger; the per-round CC
    # checkpoint parquet writes are part of the measured pipeline —
    # they ARE the operator's restartability contract) and the
    # int8-prefiltered near-dup verify benched NEXT TO its float
    # anchor (embedding_near_dups64). The four formatter toggle rows
    # are excluded: metadata-scale, constant-time (drawio rule).
    "fuzzy_dedup_removal",
    "fuzzy_dedup_rollup",
    "embedding_near_dups_quantized",
    "semantic_dedup",
    "semantic_dedup_rollup",
    "curation_funnel",
    "curation_funnel_rollup",
    "token_balanced_shards",
    "wav_decode_features",
    "pgm_resize_features",
    # round-12 additions: the real PNG codec chain (scan-bound, zero
    # exchange — benched next to its WAV/PGM siblings) and the
    # incremental funnel (store build + batch admission; the store
    # memo is per-session, so each timed run pays admission only
    # after the warm-up builds the checkpoint — the curation_funnel
    # precedent)
    "png_decode_features",
    "curation_incremental",
    # image near-dup dedup over decoded pixels (dHash + Hamming bands)
    "image_dhash",
    "image_near_dups",
    # baseline JPEG round-trip ledger (rows-only monitor)
    "jpeg_roundtrip_quality",
    "curation_incremental_rollup",
    # round-13 additions: the label-group-sharded candidate plan
    # (planted corpus), the dims=128 plane-family row, and the FLAC
    # codec chain (lossless — fully oracled, unlike the JPEG monitor)
    "embedding_near_dups_sharded",
    "embedding_near_dups_128",
    "flac_decode_features",
    "mp4_metadata",
    # product quantization: codes + ADC ranking + two-arm recall audit
    # + Arrow encode twin, sample-trained build, IVF-PQ composition
    "pq_codes",
    "pq_adc_topk",
    "pq_recall_audit",
    "pq_codes_arrow",
    "pq_codes_sampled",
    "ivf_pq_topk",
    # MJ-PNG video pipeline: framed MP4 -> stride sample -> decode ->
    # frame dHash; video near-dup through the hybrid banded engine
    "video_frame_sample",
    "video_near_dups",
    # audio sequency-landmark fingerprint + near-dup (the fourth
    # modality of the dedup matrix; integer-exact WHT)
    "audio_fingerprint",
    "audio_near_dups",
]

# results larger than this row count are executed via the noop sink
# instead of collect() so driver transfer does not dominate the
# measurement
COLLECT_CAP = 100_000

def prev_slowest_15() -> list[str]:
    """The 15 slowest rows of the newest committed ``BENCH_r<n>.json``
    record (its ``parsed.queries``). They stay on the stdout watchlist
    so a row that IMPROVES out of the top 15 still prints. A retired
    name counts as its survivor (``queries_registry.RETIRED``); any
    other name not in HEADLINE raises, so a renamed row cannot drop
    off."""
    rounds = [(int(m.group(1)), name) for name in os.listdir(ROOT)
              if (m := re.fullmatch(r"BENCH_r(\d+)\.json", name))]
    if not rounds:
        raise FileNotFoundError(f"no BENCH_r<n>.json under {ROOT}")
    newest = max(rounds)[1]
    with open(os.path.join(ROOT, newest)) as f:
        timed = json.load(f)["parsed"]["queries"]
    from gcp_datalake_utils_spark.queries_registry import RETIRED
    slowest: list[str] = []
    for name in sorted(timed, key=timed.get, reverse=True):
        name = RETIRED.get(name, name)
        if name not in slowest:
            slowest.append(name)
        if len(slowest) == 15:
            break
    unknown = [n for n in slowest if n not in HEADLINE]
    if unknown:
        raise ValueError(f"{newest} rows not in HEADLINE: {unknown}")
    return slowest


def _run_once(fn, spark, small: bool) -> float:
    t0 = time.time()
    df = fn(spark, SF_DIR)
    if small:
        df.collect()
    else:
        # NOT count(): Catalyst eliminates row-preserving joins and
        # projections under count, which would time a parquet
        # row-count instead of the operator. The noop sink forces
        # every row/column to materialize without driver transfer.
        df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _warm_up(fn, spark) -> tuple[float, int]:
    """Discarded warm-up executed through the SAME noop sink the timed
    large-result runs use (count() would warm a different physical
    plan — Catalyst prunes row-preserving work under count). The row
    count that picks collect-vs-noop comes from an Observation on the
    same single execution."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    t0 = time.time()
    obs = Observation()
    (fn(spark, SF_DIR)
     .observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    return time.time() - t0, int(obs.get["n"])


def main() -> None:
    import __spark_entry__ as entry
    from gcp_datalake_utils_spark.session import get_spark

    watchlist = prev_slowest_15()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    # optional CLI filter: `python bench.py q1 q2 ...` times just those
    # registry queries (targeted sf1/sf10 evidence runs); no args = the
    # full headline set
    only = sys.argv[1:]
    names = only or HEADLINE
    per_query: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        # discarded warm-up (noop-sink-shaped); its observed row
        # count picks the execution mode for the timed runs
        warm, n_rows = _warm_up(fn, spark)
        small = n_rows <= COLLECT_CAP
        if small:
            # the warm-up ran through the noop sink; collect() has its
            # own physical path (driver transfer, result serialization)
            # — warm it once, discarded, so the first timed run carries
            # no one-time cost the median would absorb unevenly
            _run_once(fn, spark, small)
        times = [_run_once(fn, spark, small) for _ in range(3)]
        per_query[name] = round(statistics.median(times), 3)
        print(f"  {name}: warm {warm:.2f}s median {per_query[name]}s",
              file=sys.stderr, flush=True)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    common = {
        "metric": "headline_median_total",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # host load (1/5/15 min) so cross-round deltas can be told apart
        # from noisy-neighbor spikes on this shared box
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    # full per-query medians go to a sidecar file: the 72-query dict
    # outgrew the driver's 2 KB tail capture in round 7 (BENCH_r07.json
    # recorded parsed:null), losing the machine-readable record. Only a
    # full-HEADLINE run writes it, so a subset run never replaces the
    # committed record with a few rows.
    if not only:
        with open(os.path.join(ROOT, "bench_detail.json"), "w") as f:
            json.dump({**common, "queries": per_query}, f)
    # the FINAL stdout line stays compact: headline total + the UNION
    # of {this run's slowest 15} and {the previous round's slowest 15}
    # (r13 verdict ask #9: a row that leaves the top-15 by getting
    # FASTER must keep printing, so the driver's PERF diff never
    # mislabels an improved row as dropped_from_bench). Additions
    # only; protocol untouched.
    slowest = dict(sorted(per_query.items(),
                          key=lambda kv: kv[1], reverse=True)[:15])
    for name in watchlist:
        if name in per_query:
            slowest.setdefault(name, per_query[name])
    out = {**common, "n_queries": len(per_query),
           "queries": slowest, "detail": "bench_detail.json"}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
