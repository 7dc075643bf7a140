"""End-to-end corpus curation: the composed training-data admission
pipeline (north-star extension) — exact-dedup canonicalization + quality
gating + language allow-list in ONE declarative plan.

Order of precedence for the drop reason mirrors a production curation
pipeline: duplicates are cheapest to name first, then quality, then
language; a document is kept only if it survives all three. Everything
is built-in Column expressions over one scan of documents plus one
window on the content hash — at 100 TB the window key (content_md5) is
the exact-dedup shuffle the pipeline needs anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm.text import (
    _WORDS,
    _words_col,
    MIN_CHARS,
    MIN_STOP_RATIO,
    MIN_TOKENS,
    STOPWORDS,
    TOKEN_STATS_ORACLE,
    stop_ratio_col,
    token_stats,
)
from gcp_datalake_utils_spark.session import SessionCache, session_key
from gcp_datalake_utils_spark.sources import load_table, local_frame

ALLOWED_LANGS = ["en", "de", "fr", "zh", "he"]

_STOPLIST = ", ".join(repr(w) for w in STOPWORDS)


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per-document admission verdict: keep flag + first failing
    reason ('dup' | 'quality' | 'lang' | 'kept'). Thresholds and
    tokenization are imported from llm.text so the 'quality' verdict
    always agrees with token_stats.quality_pass."""
    # staged tokenization (one split per row, referenced by the token
    # count and stopword filter as an attribute)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text", _words_col().alias("ws"))
    words = F.col("ws")
    n_tokens = F.size(words)
    stop_ratio = stop_ratio_col(words)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    w = Window.partitionBy("content_md5")
    base = (d.select("doc_id", "lang", "n_chars",
                     F.md5(norm.cast("binary")).alias("content_md5"),
                     n_tokens.alias("n_tokens"),
                     stop_ratio.alias("stop_ratio"))
            .withColumn("canonical_id", F.min("doc_id").over(w)))
    is_dup = F.col("doc_id") != F.col("canonical_id")
    bad_quality = ((F.col("n_chars") < MIN_CHARS)
                   | (F.col("n_tokens") < MIN_TOKENS)
                   | (F.col("stop_ratio") < MIN_STOP_RATIO))
    bad_lang = ~F.col("lang").isin(ALLOWED_LANGS)
    reason = (F.when(is_dup, "dup")
              .when(bad_quality, "quality")
              .when(bad_lang, "lang")
              .otherwise("kept"))
    return base.select(
        "doc_id", "lang", "canonical_id",
        (reason == "kept").alias("keep"),
        reason.alias("reason"))


SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test = remainder


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] deterministic dataset split: each document lands in
    train/val/test by an md5 hash bucket of its id — stable across
    engines, runs, partitionings and cluster sizes (unlike seeded
    ``sample``, whose output depends on partition layout). The split
    column is a narrow projection, so downstream readers filter on it
    with no shuffle; at 100 TB the split is a partition column."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 4), 16, 10)
              .cast("long") % 100)
    split = (F.when(bucket < SPLIT_TRAIN_PCT, "train")
             .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
             .otherwise("test"))
    return d.select("doc_id", bucket.alias("bucket"),
                    split.alias("split"))


TRAIN_VAL_SPLIT_ORACLE = f"""
SELECT doc_id,
       CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 AS INTEGER) % 100 AS BIGINT) AS bucket,
       CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                      1, 4) AS INTEGER) % 100 < {SPLIT_TRAIN_PCT}
                 THEN 'train'
            WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                      1, 4) AS INTEGER) % 100
                 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


_LANGS = ", ".join(repr(x) for x in ALLOWED_LANGS)

CURATE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, n_chars,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS content_md5,
         len({_WORDS}) AS n_tokens,
         len(list_filter({_WORDS}, w -> w IN ({_STOPLIST})))
           / CAST(len({_WORDS}) AS DOUBLE) AS stop_ratio
  FROM documents
),
canon AS (
  SELECT *, min(doc_id) OVER (PARTITION BY content_md5) AS canonical_id
  FROM base
)
SELECT doc_id, lang, canonical_id,
       (reason = 'kept') AS keep, reason
FROM (
  SELECT *,
         CASE WHEN doc_id <> canonical_id THEN 'dup'
              WHEN n_chars < {MIN_CHARS} OR n_tokens < {MIN_TOKENS}
                   OR stop_ratio < {MIN_STOP_RATIO} THEN 'quality'
              WHEN lang NOT IN ({_LANGS}) THEN 'lang'
              ELSE 'kept' END AS reason
  FROM canon
)
"""


BUDGET_SHARE = 0.6  # token budget as a share of total corpus tokens
# exact-integer form of the 60% budget test: `den*cum <= num*total` in
# int64 on BOTH engines. A float `0.6 * total` budget literal differs
# between Python float and DuckDB's exact DECIMAL arithmetic when the
# running total lands exactly on the boundary (total a multiple of 5),
# flipping boundary docs data-dependently (round-7 advice).
BUDGET_NUM = 6
BUDGET_DEN = 10


def corpus_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] token-budget corpus selection: take documents in
    (quality_score DESC, doc_id ASC) order while the running token
    total stays within 60% of the corpus — the greedy quality prefix
    every data-mixing recipe starts from. Output: selected docs with
    their global running total (doc_id, quality_score, n_tokens,
    cum_tokens).

    A naive global cumulative-sum window moves EVERY row to one
    partition — a non-starter at 100 TB. The scale-safe two-phase
    shape used here:

    1. histogram by EXACT score: quality_score is round(6)ed, so
       round(score * 1e6) is an integer key with at most 1,000,001
       distinct values REGARDLESS of corpus size — the per-score token
       totals are a bounded driver-side table (<= ~16 MB);
    2. the driver walks the histogram in score order and finds the
       cutoff score: buckets above it are fully funded, at most ONE
       bucket is partial (the running total is monotone, so exactly
       one bucket straddles the budget), buckets below are dropped
       before any window runs;
    3. each surviving doc's global cum = broadcast prefix total of the
       strictly-better scores + a within-score window cumsum ordered
       by doc_id. The window partitions on the score key — the only
       serial run is genuinely tied documents, which no correct
       implementation can order in parallel.

    The driver round-trip makes this operator eager (same pattern as
    the driver-coordinated k-means); the oracle is the one-window SQL
    prefix, so the two-phase plan is value-checked against the naive
    semantics at every gate."""
    from gcp_datalake_utils_spark.llm.text import token_stats
    stats = (token_stats(spark, sf_dir)
             .select("doc_id", "quality_score", "n_tokens"))
    return _budget_prefix(spark, stats)


def _budget_prefix(spark: SparkSession, stats: DataFrame) -> DataFrame:
    """Greedy (quality DESC, doc_id) token-budget prefix over a
    (doc_id, quality_score, n_tokens) frame via the bounded
    score-histogram two-phase plan (see corpus_budget_selection).

    The stats frame is localCheckpoint'ed first: both phases (the
    histogram collect and the final selection plan) consume it, and
    without the checkpoint each phase re-runs the full upstream
    tokenize/score lineage — the checkpoint is a narrow 4-column
    frame, so materializing it costs far less than a second corpus
    scan (measured ~2x on the whole operator at sf3)."""
    stats = stats.withColumn(
        "ppm", F.round(F.col("quality_score") * 1e6).cast("long")) \
        .localCheckpoint()
    hist = {r["ppm"]: r["toks"]
            for r in stats.groupBy("ppm")
            .agg(F.sum("n_tokens").alias("toks")).collect()}
    total = sum(hist.values())
    prefix: dict[int, int] = {}
    acc = 0
    cutoff_ppm = None
    for ppm in sorted(hist, reverse=True):
        prefix[ppm] = acc
        acc += hist[ppm]
        # exact-integer budget test (den*acc > num*total), never a
        # float literal — see BUDGET_NUM comment
        if acc * BUDGET_DEN > total * BUDGET_NUM:
            cutoff_ppm = ppm
            break
    if cutoff_ppm is None:
        cutoff_ppm = min(hist) if hist else 0
    included = [(p, prefix[p]) for p in prefix]
    pref_df = F.broadcast(local_frame(
        spark, included, "ppm long, prior_acc long"))
    w = (Window.partitionBy("ppm").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (stats.where(F.col("ppm") >= cutoff_ppm)
            .join(pref_df, "ppm")
            .withColumn("cum_tokens",
                        F.col("prior_acc") + F.sum("n_tokens").over(w))
            .where(F.col("cum_tokens") * F.lit(BUDGET_DEN)
                   <= F.lit(total) * F.lit(BUDGET_NUM))
            .select("doc_id", "quality_score", "n_tokens", "cum_tokens"))


def _budget_oracle() -> str:
    from gcp_datalake_utils_spark.llm.text import TOKEN_STATS_ORACLE
    return f"""
WITH stats AS ({TOKEN_STATS_ORACLE}),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM stats),
ranked AS (
  SELECT doc_id, quality_score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
           AS cum
  FROM stats
)
SELECT doc_id, quality_score, n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM ranked, tot
WHERE {BUDGET_DEN} * CAST(cum AS BIGINT) <= {BUDGET_NUM} * total
"""


CORPUS_BUDGET_ORACLE = _budget_oracle()


def admission_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] the composed end-to-end admission run in ONE query: curate
    (exact-dup canonicalization + quality gate + language allow-list)
    -> token-budget selection over the SURVIVORS (60% of the KEPT
    corpus's tokens, greedy quality prefix). Output: the admitted
    documents with their running token totals — the set a training run
    would actually read.

    Composition cost at 100 TB: the curate verdict adds one
    content-hash exchange (the exact-dedup window the pipeline needs
    anyway) and a broadcast-able keep-list semi join; the budget phase
    reuses the bounded-histogram prefix plan (see
    corpus_budget_selection), so the whole admission run is three
    data-scale exchanges end to end — no stage reads text twice."""
    from gcp_datalake_utils_spark.llm.text import token_stats
    kept = curate(spark, sf_dir).where("keep").select("doc_id")
    stats = (token_stats(spark, sf_dir)
             .select("doc_id", "quality_score", "n_tokens")
             .join(kept, "doc_id", "left_semi"))
    return _budget_prefix(spark, stats)


def _admission_oracle() -> str:
    from gcp_datalake_utils_spark.llm.text import TOKEN_STATS_ORACLE
    return f"""
WITH stats_all AS ({TOKEN_STATS_ORACLE}),
stats AS (
  SELECT s.doc_id, s.quality_score, s.n_tokens
  FROM stats_all s
  SEMI JOIN (SELECT doc_id FROM ({CURATE_ORACLE}) WHERE keep) k
    ON s.doc_id = k.doc_id
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM stats),
ranked AS (
  SELECT doc_id, quality_score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
           AS cum
  FROM stats
)
SELECT doc_id, quality_score, n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM ranked, tot
WHERE {BUDGET_DEN} * CAST(cum AS BIGINT) <= {BUDGET_NUM} * total
"""


ADMISSION_PIPELINE_ORACLE = _admission_oracle()


# ---------------------------------------------------------------------------
# Per-source decile calibration (round 9). Mixing corpora by a raw
# quality/length signal systematically over-samples whichever source's
# distribution sits higher; the standard fix is to normalize WITHIN
# source (quantile-bucket each source separately) and mix on the
# calibrated buckets. Exact per-source deciles at scale are the same
# straggler problem rfm had globally — a ntile window per source hands
# the biggest source to one task — so this consumes the round-9
# group-boundary machinery (functions/ranking.group_ntile_boundaries):
# one balanced range exchange over the slim (source, n_words, doc_id)
# fan, cut rows from actual counts, map-side bucketing.
# ---------------------------------------------------------------------------

CALIBRATION_BINS = 10


def source_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] (source, decile, n_docs, min_words, max_words): exact
    per-source decile cuts of document length (the per-source
    calibration table a mixture sampler consumes). SQL-ntile-exact
    with (n_words, doc_id) ties, plan SinglePartition-free, and no
    per-source window — a hot source splits across range partitions
    (see group_ntile_boundaries)."""
    from gcp_datalake_utils_spark.functions.ranking import (
        bucket_by_boundaries,
        group_ntile_boundaries,
    )
    d = load_table(spark, sf_dir, "documents")
    t = (d.select("doc_id", "source",
                  F.size(F.split(F.trim("text"), r"\s+"))
                  .cast("long").alias("nw"))
         .localCheckpoint())
    cuts = group_ntile_boundaries(t, "source", F.col("nw"), "doc_id",
                                  CALIBRATION_BINS)
    bucket = None
    for g, c in cuts.items():
        b = bucket_by_boundaries(F.col("nw"), F.col("doc_id"), c)
        bucket = (F.when(F.col("source") == g, b) if bucket is None
                  else bucket.when(F.col("source") == g, b))
    return (t.withColumn("decile", bucket.cast("int"))
            .groupBy("source", "decile")
            .agg(F.count("*").alias("n_docs"),
                 F.min("nw").alias("min_words"),
                 F.max("nw").alias("max_words")))


SOURCE_LENGTH_DECILES_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS nw
  FROM documents
),
s AS (
  SELECT source, nw,
         ntile({CALIBRATION_BINS}) OVER (
           PARTITION BY source ORDER BY nw, doc_id) AS decile
  FROM t
)
SELECT source, CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(nw) AS min_words, max(nw) AS max_words
FROM s GROUP BY source, decile
"""


def source_length_deciles_approx(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Rows-only monitor twin of :func:`source_length_deciles`: decile
    CUTS via approx_percentile in ONE aggregation job. The exact
    operator's cost is pure coordination (6 sequential driver jobs,
    measured FLAT ~3.5 s from sf0.1 to sf10); when a mixture sampler
    only needs approximate calibration cuts, this shape is the
    sub-second answer. No DuckDB oracle (sketch outputs are
    engine-specific) — bracketed by pytest against the exact cuts
    instead, like the other approx monitors."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source",
                 F.size(F.split(F.trim("text"), r"\s+"))
                 .cast("long").alias("nw"))
    pcts = [i / CALIBRATION_BINS for i in range(1, CALIBRATION_BINS)]
    return (t.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.percentile_approx(
                     "nw", pcts, 10_000).alias("cuts")))


# ---------------------------------------------------------------------------
# The full dedup FUNNEL (round 11): exact -> fuzzy -> quality, as one
# per-document stage ledger. admission_pipeline composes exact dedup +
# quality + budget; production curation (RefinedWeb/FineWeb ordering)
# additionally runs MinHash-LSH fuzzy dedup BETWEEN those stages, and
# reports per-source survival at every stage. Stage semantics:
#
#   exact_kept  = the doc is its exact-dup group's canonical member
#   fuzzy_kept  = exact_kept AND the doc survives keep-best over the
#                 near-dup components of the EXACT-SURVIVOR subgraph
#                 (restricting the verified pair graph to survivor
#                 endpoints is exactly equivalent to re-running LSH on
#                 the survivor corpus: banding is per-doc and the
#                 Jaccard verify is pairwise)
#   final_kept  = fuzzy_kept AND the token_stats quality gate
#
# so the flags are monotone (a doc dropped at stage k is dropped at
# every later stage) — the rollup reads as a funnel by construction.
# ---------------------------------------------------------------------------


# Eager module-level caches (ADVICE r12): the old lazy
# `if CACHE is None: CACHE = SessionCache()` was an unlocked
# check-then-set — two driver threads could each install a cache and
# discard the other's memo (duplicate multi-minute funnel builds).
# SessionCache construction is cheap and session.py imports only
# stdlib + pyspark, so there is no import cycle to guard.
_FUNNEL_CACHE = SessionCache()


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per-document verdict of the exact -> fuzzy -> quality
    funnel: (doc_id, source, exact_kept, fuzzy_kept, final_kept).

    Memoized per (session, corpus) as an eager checkpoint — the
    verdict is deterministic for a corpus and is the shared input of
    the rollup ledger (the detect_all / signature-store precedent),
    so consumers after the first pay a materialized-scan, not a
    second LSH pipeline."""
    return _FUNNEL_CACHE.get_or_build(
        (session_key(spark), sf_dir),
        lambda: _curation_funnel_uncached(spark, sf_dir)
        .localCheckpoint())


def _curation_funnel_uncached(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from gcp_datalake_utils_spark.llm import dedup
    from gcp_datalake_utils_spark.llm.cc import cc_min_label

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ex = dedup.exact_dup_groups(spark, sf_dir).select(
        "doc_id", (~F.col("is_duplicate")).alias("exact_kept"))
    stats = token_stats(spark, sf_dir).select(
        "doc_id", "quality_score", "quality_pass")
    surv = ex.where("exact_kept").select("doc_id")
    pairs = (dedup.near_dup_pairs(spark, sf_dir)
             .select("doc_a", "doc_b")
             .join(surv.withColumnRenamed("doc_id", "doc_a"),
                   "doc_a", "leftsemi")
             .join(surv.withColumnRenamed("doc_id", "doc_b"),
                   "doc_b", "leftsemi"))
    labels = cc_min_label(pairs, "doc_a", "doc_b")
    w = Window.partitionBy("group_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id"))
    fz = (labels.join(stats.select("doc_id", "quality_score"), "doc_id")
          .withColumn("fz_kept", F.row_number().over(w) == 1)
          .select("doc_id", "fz_kept"))
    return (d.join(ex, "doc_id")
            .join(stats.select("doc_id", "quality_pass"), "doc_id")
            .join(fz, "doc_id", "left")
            .select(
                "doc_id", "source", "exact_kept",
                (F.col("exact_kept")
                 & F.coalesce("fz_kept", F.lit(True)))
                .alias("fuzzy_kept"),
                (F.col("exact_kept")
                 & F.coalesce("fz_kept", F.lit(True))
                 & F.col("quality_pass")).alias("final_kept")))


def _funnel_oracle() -> str:
    from gcp_datalake_utils_spark.llm import dedup
    return f"""
WITH RECURSIVE ex AS ({dedup.EXACT_DUP_ORACLE}),
stats AS ({TOKEN_STATS_ORACLE}),
pairs_all AS MATERIALIZED ({dedup.NEAR_DUP_ORACLE}),
surv AS (SELECT doc_id FROM ex WHERE NOT is_duplicate),
pairs AS (
  SELECT p.doc_a, p.doc_b FROM pairs_all p
  SEMI JOIN surv sa ON p.doc_a = sa.doc_id
  SEMI JOIN surv sb ON p.doc_b = sb.doc_id
),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.v
),
groups AS (SELECT v AS doc_id, min(r) AS group_id FROM reach
           GROUP BY v),
fz AS (
  SELECT g.doc_id,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY s.quality_score DESC, g.doc_id)
           = 1 AS fz_kept
  FROM groups g JOIN stats s USING (doc_id)
)
SELECT d.doc_id, d.source,
       NOT e.is_duplicate AS exact_kept,
       (NOT e.is_duplicate) AND coalesce(k.fz_kept, TRUE)
         AS fuzzy_kept,
       (NOT e.is_duplicate) AND coalesce(k.fz_kept, TRUE)
         AND s.quality_pass AS final_kept
FROM documents d
JOIN ex e USING (doc_id)
JOIN stats s USING (doc_id)
LEFT JOIN fz k USING (doc_id)
"""


def curation_funnel_rollup(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """[Q] the per-source funnel report — the table a curation run
    ships: how many documents each source brought in and how many
    survived each stage."""
    per = curation_funnel(spark, sf_dir)
    return (per.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("exact_kept").cast("long"))
                 .alias("n_after_exact"),
                 F.sum(F.col("fuzzy_kept").cast("long"))
                 .alias("n_after_fuzzy"),
                 F.sum(F.col("final_kept").cast("long"))
                 .alias("n_final"),
                 F.round(F.sum(F.col("final_kept").cast("long"))
                         / F.count("*").cast("double"), 6)
                 .alias("final_rate")))


def _funnel_rollup_oracle() -> str:
    return f"""
WITH verdict AS MATERIALIZED ({_funnel_oracle()})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN exact_kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_exact,
       CAST(sum(CASE WHEN fuzzy_kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_fuzzy,
       CAST(sum(CASE WHEN final_kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_final,
       round(sum(CASE WHEN final_kept THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS final_rate
FROM verdict GROUP BY source
"""


# ---------------------------------------------------------------------------
# Round 12: the INCREMENTAL funnel — admit a new batch against a
# CONVERGED store. The r11 funnel curates a corpus from scratch; a
# continuously-crawled corpus instead holds an admitted store (the
# funnel's final survivors) and runs per-ingest ADMISSION: batch docs
# are screened by exact hash against the store, by LSH near-dup
# against the store (store precedence — the store is converged, a
# batch near-dup of an admitted doc is dropped regardless of quality),
# then deduped among themselves (exact canon + near-dup keep-best by
# quality), then quality-gated. Composes llm/dedup's asymmetric
# banded admission (dedup_incremental) with the funnel's monotone
# verdict contract.
#
# Scale shape: the store state is three persisted frames — admitted
# hashes, admitted band keys, admitted shingles (build_curation_store
# writes them once with an atomic CONVERGED marker; the [Q] row builds
# them in-memory for the driver's hermetic gate). Per batch the work
# is |batch| band keys + an ASYMMETRIC band join (ingest-sized side
# vs indexed store side — broadcast or store-bucketed at 100 TB), a
# candidates-only Jaccard verify, and a batch-internal CC over the
# ingest-sized survivor subgraph. Refresh cost is |batch|-shaped;
# the store is never re-joined against itself.
#
# The oracle recomputes the SAME semantics from scratch in SQL
# (store funnel + batch admission — the dedup_incremental /
# daily_activity_cdc precedent), so incremental must equal recompute
# exactly; the replay pytest additionally proves the persisted-store
# path reproduces the in-memory verdict byte-for-byte after a
# restart without rebuilding the store.
# ---------------------------------------------------------------------------


_STORE_CACHE = SessionCache()  # eager: see _FUNNEL_CACHE note


def _store_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content_md5, admitted) for every STORE doc
    (doc_id % BATCH_MOD != 0): the r11 funnel semantics restricted to
    the store corpus — exact canon (min doc_id per hash among store
    docs), near-dup keep-best by quality over the exact-survivor
    subgraph, quality gate. Memoized per (session, corpus) as an eager
    checkpoint (the curation_funnel precedent): the store is CONVERGED
    by definition, so consumers after the first pay a materialized
    scan, not a second LSH pipeline."""
    return _STORE_CACHE.get_or_build(
        (session_key(spark), sf_dir),
        lambda: _store_state_uncached(spark, sf_dir)
        .localCheckpoint())


def _store_state_uncached(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from gcp_datalake_utils_spark.llm import dedup
    from gcp_datalake_utils_spark.llm.cc import cc_min_label

    is_store = F.col("doc_id") % dedup.BATCH_MOD != 0
    hashes = dedup.content_hashes(spark, sf_dir).where(is_store)
    stats = token_stats(spark, sf_dir).select(
        "doc_id", "quality_score", "quality_pass").where(is_store)
    w_md5 = Window.partitionBy("content_md5")
    st_ex = (hashes
             .withColumn("canon", F.min("doc_id").over(w_md5))
             .select("doc_id", "content_md5",
                     (F.col("doc_id") == F.col("canon")).alias("ek")))
    surv = st_ex.where("ek").select("doc_id")
    bk = (dedup._band_keys(spark, sf_dir)
          .join(surv, "doc_id", "leftsemi"))
    a = bk.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = bk.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    cand = (a.join(b, ["band", "band_hash"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    sh = dedup.shingle_rows(spark, sf_dir).localCheckpoint()
    ver = dedup._verify_jaccard(cand, sh).select("doc_a", "doc_b")
    labels = cc_min_label(ver, "doc_a", "doc_b")
    w_grp = Window.partitionBy("group_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id"))
    fz = (labels.join(stats.select("doc_id", "quality_score"), "doc_id")
          .withColumn("keep", F.row_number().over(w_grp) == 1)
          .select("doc_id", "keep"))
    return (st_ex
            .join(stats.select("doc_id", "quality_pass"), "doc_id")
            .join(fz, "doc_id", "left")
            .select("doc_id", "content_md5",
                    (F.col("ek") & F.coalesce("keep", F.lit(True))
                     & F.col("quality_pass")).alias("admitted")))


def _admit_batch(d_b: DataFrame, hashes_b: DataFrame, bk_b: DataFrame,
                 sh_b: DataFrame, stats_b: DataFrame,
                 store_md5: DataFrame, store_bk: DataFrame,
                 store_sh: DataFrame) -> DataFrame:
    """Batch admission against store state frames. All *_b frames
    cover exactly the batch docs; store_* frames cover exactly the
    ADMITTED store docs (the persisted index). Returns the monotone
    per-doc verdict (doc_id, source, exact_kept, fuzzy_kept,
    final_kept)."""
    from gcp_datalake_utils_spark.llm import dedup
    from gcp_datalake_utils_spark.llm.cc import cc_min_label

    w_md5 = Window.partitionBy("content_md5")
    b_ex = (hashes_b
            .withColumn("canon", F.min("doc_id").over(w_md5))
            .join(store_md5.withColumn("in_store", F.lit(True)),
                  "content_md5", "left")
            .select("doc_id",
                    ((F.col("doc_id") == F.col("canon"))
                     & F.col("in_store").isNull()).alias("exact_kept")))
    b_surv = b_ex.where("exact_kept").select("doc_id")
    # NO checkpoint on the union: store_sh is already a materialized
    # index scan and sh_b a checkpointed batch frame — checkpointing
    # the union would re-copy the store-sized shingle set on EVERY
    # admission (measured ~10 s of the sf10 admission wall)
    sh_all = sh_b.unionByName(store_sh)
    sb_bk = bk_b.join(b_surv, "doc_id", "leftsemi")
    # checkpointed: candidates feed the endpoint pruning AND the
    # verify — and they are ingest-sized
    cand_bs = (sb_bk.select(F.col("doc_id").alias("doc_a"),
                            "band", "band_hash")
               .join(store_bk.select(F.col("doc_id").alias("doc_b"),
                                     "band", "band_hash"),
                     ["band", "band_hash"])
               .select("doc_a", "doc_b").distinct()
               .localCheckpoint())
    # verify ships only CANDIDATE-MATCHED docs' shingles (semi-join on
    # the pair endpoints — the quantized-rescore lesson): the store
    # shingle index contributes the banded sliver, not the whole
    # store, so the verify exchange is candidate-sized at any corpus
    ends = (cand_bs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand_bs.select(F.col("doc_b")
                                        .alias("doc_id")))
            .distinct())
    # broadcast the candidate endpoints (|batch-candidate|-sized) so
    # the semi-join prunes the store-sized shingle index WITHOUT
    # shuffling it (guide §3.1; measured 1.22 -> 1.03 s on the verify
    # wave at sf0.1 — the estimator picked a shuffle join otherwise)
    matched = (dedup._verify_jaccard(
                   cand_bs,
                   sh_all.join(F.broadcast(ends), "doc_id", "leftsemi"))
               .select(F.col("doc_a").alias("doc_id")).distinct()
               .localCheckpoint())
    b_rem = b_surv.join(matched, "doc_id", "left_anti")
    r_bk = bk_b.join(b_rem, "doc_id", "leftsemi")
    cand_bb = (r_bk.select(F.col("doc_id").alias("doc_a"),
                           "band", "band_hash")
               .join(r_bk.select(F.col("doc_id").alias("doc_b"),
                                 "band", "band_hash"),
                     ["band", "band_hash"])
               .where(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b").distinct())
    ver_bb = dedup._verify_jaccard(cand_bb, sh_b) \
        .select("doc_a", "doc_b")
    labels = cc_min_label(ver_bb, "doc_a", "doc_b")
    w_grp = Window.partitionBy("group_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id"))
    fz = (labels.join(stats_b.select("doc_id", "quality_score"),
                      "doc_id")
          .withColumn("keep", F.row_number().over(w_grp) == 1)
          .select("doc_id", "keep"))
    return (d_b
            .join(b_ex, "doc_id")
            .join(matched.withColumn("m", F.lit(True)),
                  "doc_id", "left")
            .join(fz, "doc_id", "left")
            .join(stats_b.select("doc_id", "quality_pass"), "doc_id")
            .select(
                "doc_id", "source", "exact_kept",
                (F.col("exact_kept") & F.col("m").isNull()
                 & F.coalesce("keep", F.lit(True))).alias("fuzzy_kept"),
                (F.col("exact_kept") & F.col("m").isNull()
                 & F.coalesce("keep", F.lit(True))
                 & F.col("quality_pass")).alias("final_kept")))


def _batch_frames(spark: SparkSession, sf_dir: str):
    """(d_b, hashes_b, bk_b, sh_b, stats_b) — the batch-side inputs of
    _admit_batch, recomputed per ingest (|batch|-sized)."""
    from gcp_datalake_utils_spark.llm import dedup

    is_batch = F.col("doc_id") % dedup.BATCH_MOD == 0
    d_b = (load_table(spark, sf_dir, "documents")
           .where(is_batch).select("doc_id", "source"))
    hashes_b = dedup.content_hashes(spark, sf_dir).where(is_batch)
    # The two eager checkpoint builds are independent jobs; running
    # them from a 2-thread pool overlaps their scheduling + stage
    # tails (guide §2.6 — the admission chain is many small jobs, so
    # wave count, not task work, is the wall at local SFs). sh_b
    # stays checkpointed because the Jaccard verify reads the shingle
    # frame three times (two equi joins + the size rollup) — without
    # it the batch tokenize/shingle pass runs 3x per admission.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _bk():
        return dedup._band_keys(spark, sf_dir).where(is_batch) \
            .localCheckpoint()

    def _sh():
        return dedup.shingle_rows(spark, sf_dir).where(is_batch) \
            .localCheckpoint()

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bk = pool.submit(inheritable_thread_target(_bk))
        f_sh = pool.submit(inheritable_thread_target(_sh))
        bk_b, sh_b = f_bk.result(), f_sh.result()
    stats_b = token_stats(spark, sf_dir).select(
        "doc_id", "quality_score", "quality_pass").where(is_batch)
    return d_b, hashes_b, bk_b, sh_b, stats_b


_INDEX_CACHE = SessionCache()  # eager: see _FUNNEL_CACHE note


def _store_index(spark: SparkSession, sf_dir: str):
    """(store_md5, store_bk, store_sh) — the CONVERGED store's
    admission index, all three frames eagerly checkpointed and
    memoized per (session, corpus). This is the in-memory twin of the
    parquet index build_curation_store persists: without the memo
    every admission re-derived the full-corpus MinHash signatures and
    shingles just to semi-join them down to the store (measured at
    tmp/sf10: ~35 s of the 40 s admission wall was this re-derivation;
    with the index memoized, timed admissions pay batch-side work +
    index scans only — the contract the block comment promises)."""
    from gcp_datalake_utils_spark.llm import dedup

    def _build():
        store = _store_state(spark, sf_dir)
        admitted = store.where("admitted").select("doc_id")
        return (store.where("admitted").select("content_md5")
                .distinct().localCheckpoint(),
                dedup._band_keys(spark, sf_dir)
                .join(admitted, "doc_id", "leftsemi")
                .localCheckpoint(),
                dedup.shingle_rows(spark, sf_dir)
                .join(admitted, "doc_id", "leftsemi")
                .localCheckpoint())

    return _INDEX_CACHE.get_or_build((session_key(spark), sf_dir),
                                     _build)


def curation_incremental(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """[Q] the incremental funnel's batch verdict: (doc_id, source,
    exact_kept, fuzzy_kept, final_kept) for every batch doc
    (doc_id % 10 == 0), admitted against the converged store built
    from the rest of the corpus. See the block comment above for the
    semantics and the scale shape; the oracle is a from-scratch SQL
    recompute of the same semantics."""
    store_md5, store_bk, store_sh = _store_index(spark, sf_dir)
    return _admit_batch(*_batch_frames(spark, sf_dir),
                        store_md5, store_bk, store_sh)


def build_curation_store(spark: SparkSession, sf_dir: str,
                         store_dir: str) -> None:
    """Persist the CONVERGED store state (admitted hashes, band keys,
    shingles) under ``store_dir`` with an atomic marker — the
    fuzzydedup durable-stage pattern. A crash mid-build leaves no
    marker, so the next call rebuilds; once CONVERGED exists the
    build is skipped entirely (replay-tested)."""
    import os

    marker = os.path.join(store_dir, "CONVERGED")
    if os.path.exists(marker):
        return
    os.makedirs(store_dir, exist_ok=True)
    store = _store_state(spark, sf_dir)
    store.where("admitted").select("doc_id", "content_md5") \
        .write.mode("overwrite") \
        .parquet(os.path.join(store_dir, "hashes"))
    _, store_bk, store_sh = _store_index(spark, sf_dir)
    store_bk.write.mode("overwrite") \
        .parquet(os.path.join(store_dir, "bands"))
    store_sh.write.mode("overwrite") \
        .parquet(os.path.join(store_dir, "shingles"))
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write("converged\n")
    os.rename(tmp, marker)


def admit_batch_against_store(spark: SparkSession, sf_dir: str,
                              store_dir: str) -> DataFrame:
    """The production path: ensure the persisted store exists (no-op
    when CONVERGED), then admit the batch reading ONLY the persisted
    frames — the store funnel is never recomputed on ingest."""
    import os

    build_curation_store(spark, sf_dir, store_dir)
    store_md5 = (spark.read
                 .parquet(os.path.join(store_dir, "hashes"))
                 .select("content_md5").distinct())
    store_bk = spark.read.parquet(os.path.join(store_dir, "bands"))
    store_sh = spark.read.parquet(os.path.join(store_dir, "shingles"))
    return _admit_batch(*_batch_frames(spark, sf_dir),
                        store_md5, store_bk, store_sh)


def _jaccard_ver_sql(cand: str, pfx: str) -> str:
    """Candidates-only exact-Jaccard verify CTE pair (mirrors
    dedup._verify_jaccard; shares the global sh/sizes CTEs)."""
    from gcp_datalake_utils_spark.llm.dedup import JACCARD_THRESHOLD
    return f"""{pfx}_inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM {cand} c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
),
{pfx}_ver AS (
  SELECT i.doc_a, i.doc_b
  FROM {pfx}_inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE i.inter / CAST(na.n + nb.n - i.inter AS DOUBLE)
        >= {JACCARD_THRESHOLD}
)"""


def _cc_keep_sql(ver: str, pfx: str) -> str:
    """Connected components (min-label via recursive reachability) +
    keep-best-by-quality CTE chain over a verified pair set."""
    return f"""{pfx}_edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM {ver}
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM {ver}
),
{pfx}_reach(v, r) AS (
  SELECT src, src FROM {pfx}_edges
  UNION
  SELECT e.dst, r.r FROM {pfx}_reach r
  JOIN {pfx}_edges e ON e.src = r.v
),
{pfx}_groups AS (SELECT v AS doc_id, min(r) AS group_id
                 FROM {pfx}_reach GROUP BY v),
{pfx}_keep AS (
  SELECT g.doc_id,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY s.quality_score DESC, g.doc_id)
           = 1 AS keep
  FROM {pfx}_groups g JOIN stats s USING (doc_id)
)"""


def _curation_incremental_oracle() -> str:
    from gcp_datalake_utils_spark.llm import dedup
    bm = dedup.BATCH_MOD
    return f"""
WITH RECURSIVE
hx AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS content_md5
  FROM documents),
stats AS ({TOKEN_STATS_ORACLE}),
sig AS ({dedup.MINHASH_ORACLE}),
bk AS ({dedup._band_keys_sql()}),
sh AS (SELECT doc_id, unnest({dedup._SHINGLES_SQL}) AS s
       FROM documents),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
st_ex AS (
  SELECT doc_id, content_md5,
         doc_id = min(doc_id) OVER (PARTITION BY content_md5) AS ek
  FROM hx WHERE doc_id % {bm} <> 0),
st_surv AS (SELECT doc_id FROM st_ex WHERE ek),
st_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a
  JOIN bk b ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
  SEMI JOIN st_surv sa ON a.doc_id = sa.doc_id
  SEMI JOIN st_surv sb ON b.doc_id = sb.doc_id),
{_jaccard_ver_sql('st_cand', 'st')},
{_cc_keep_sql('st_ver', 'st')},
store AS MATERIALIZED (
  SELECT e.doc_id, e.content_md5,
         (e.ek AND coalesce(k.keep, TRUE) AND s.quality_pass)
           AS admitted
  FROM st_ex e JOIN stats s USING (doc_id)
  LEFT JOIN st_keep k USING (doc_id)),
store_md5 AS (SELECT DISTINCT content_md5 FROM store WHERE admitted),
store_ids AS (SELECT doc_id FROM store WHERE admitted),
b_ex AS (
  SELECT doc_id, content_md5,
         doc_id = min(doc_id) OVER (PARTITION BY content_md5) AS canon
  FROM hx WHERE doc_id % {bm} = 0),
b_exact AS (
  SELECT b.doc_id,
         (b.canon AND m.content_md5 IS NULL) AS exact_kept
  FROM b_ex b LEFT JOIN store_md5 m USING (content_md5)),
b_surv AS (SELECT doc_id FROM b_exact WHERE exact_kept),
bs_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a
  JOIN bk b ON a.band = b.band AND a.band_hash = b.band_hash
  SEMI JOIN b_surv sa ON a.doc_id = sa.doc_id
  SEMI JOIN store_ids sb ON b.doc_id = sb.doc_id),
{_jaccard_ver_sql('bs_cand', 'bs')},
b_matched AS (SELECT DISTINCT doc_a AS doc_id FROM bs_ver),
b_rem AS (
  SELECT doc_id FROM b_surv
  ANTI JOIN b_matched USING (doc_id)),
bb_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a
  JOIN bk b ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
  SEMI JOIN b_rem ra ON a.doc_id = ra.doc_id
  SEMI JOIN b_rem rb ON b.doc_id = rb.doc_id),
{_jaccard_ver_sql('bb_cand', 'bb')},
{_cc_keep_sql('bb_ver', 'bb')}
SELECT d.doc_id, d.source,
       e.exact_kept,
       (e.exact_kept AND m.doc_id IS NULL
        AND coalesce(k.keep, TRUE)) AS fuzzy_kept,
       (e.exact_kept AND m.doc_id IS NULL
        AND coalesce(k.keep, TRUE) AND s.quality_pass) AS final_kept
FROM documents d
JOIN b_exact e USING (doc_id)
JOIN stats s USING (doc_id)
LEFT JOIN b_matched m USING (doc_id)
LEFT JOIN bb_keep k USING (doc_id)
WHERE d.doc_id % {bm} = 0
"""


def curation_incremental_rollup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """[Q] the UPDATED per-source ledger after a batch admission —
    the table a continuously-crawled corpus maintains: how many docs
    the store already holds per source, what the batch brought in,
    how many survived each admission stage, and the store's size
    after the merge. Reads the memoized store verdict + the batch
    verdict, so after the first build this is two materialized scans
    plus a groupBy."""
    from gcp_datalake_utils_spark.llm import dedup

    is_store = F.col("doc_id") % dedup.BATCH_MOD != 0
    src = (load_table(spark, sf_dir, "documents")
           .select("doc_id", "source"))
    # ONE grouped pass (round 14, guide §2.1 aggregate-before-shuffle):
    # the r13 shape ran two groupBy exchanges and a full-outer
    # SortMergeJoin on `source`; a union of per-side tagged rows folds
    # all seven counters in a single hash aggregation with map-side
    # partial aggregation, so exactly one exchange carries
    # |sources|-sized partials. coalesce(x, 0) over the full-outer
    # equals the sum over the union: a source missing from one side
    # contributes zeros to that side's counters.
    z = F.lit(0).cast("long")
    store_rows = (_store_state(spark, sf_dir)
                  .join(src.where(is_store), "doc_id")
                  .select("source",
                          F.lit(1).cast("long").alias("store_docs"),
                          F.col("admitted").cast("long")
                          .alias("store_admitted"),
                          z.alias("batch_docs"),
                          z.alias("batch_after_exact"),
                          z.alias("batch_after_fuzzy"),
                          z.alias("batch_admitted")))
    batch_rows = (curation_incremental(spark, sf_dir)
                  .select("source",
                          z.alias("store_docs"),
                          z.alias("store_admitted"),
                          F.lit(1).cast("long").alias("batch_docs"),
                          F.col("exact_kept").cast("long")
                          .alias("batch_after_exact"),
                          F.col("fuzzy_kept").cast("long")
                          .alias("batch_after_fuzzy"),
                          F.col("final_kept").cast("long")
                          .alias("batch_admitted")))
    agg = (store_rows.unionByName(batch_rows)
           .groupBy("source")
           .agg(*[F.sum(c).alias(c)
                  for c in ("store_docs", "store_admitted",
                            "batch_docs", "batch_after_exact",
                            "batch_after_fuzzy", "batch_admitted")]))
    return agg.select(
        "source", "store_docs", "store_admitted", "batch_docs",
        "batch_after_exact", "batch_after_fuzzy", "batch_admitted",
        (F.col("store_admitted") + F.col("batch_admitted"))
        .alias("total_admitted"))


def _curation_incremental_rollup_oracle() -> str:
    from gcp_datalake_utils_spark.llm import dedup
    bm = dedup.BATCH_MOD
    return f"""
WITH verdict AS MATERIALIZED ({_curation_incremental_oracle()}),
store_side AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS store_docs,
         CAST(sum(CASE WHEN s.admitted THEN 1 ELSE 0 END) AS BIGINT)
           AS store_admitted
  FROM ({_store_oracle_sql()}) s
  JOIN documents d USING (doc_id)
  GROUP BY d.source
),
batch_side AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS batch_docs,
         CAST(sum(CASE WHEN exact_kept THEN 1 ELSE 0 END) AS BIGINT)
           AS batch_after_exact,
         CAST(sum(CASE WHEN fuzzy_kept THEN 1 ELSE 0 END) AS BIGINT)
           AS batch_after_fuzzy,
         CAST(sum(CASE WHEN final_kept THEN 1 ELSE 0 END) AS BIGINT)
           AS batch_admitted
  FROM verdict GROUP BY source
)
SELECT coalesce(s.source, b.source) AS source,
       coalesce(s.store_docs, 0) AS store_docs,
       coalesce(s.store_admitted, 0) AS store_admitted,
       coalesce(b.batch_docs, 0) AS batch_docs,
       coalesce(b.batch_after_exact, 0) AS batch_after_exact,
       coalesce(b.batch_after_fuzzy, 0) AS batch_after_fuzzy,
       coalesce(b.batch_admitted, 0) AS batch_admitted,
       coalesce(s.store_admitted, 0) + coalesce(b.batch_admitted, 0)
         AS total_admitted
FROM store_side s FULL OUTER JOIN batch_side b USING (source)
"""


def _store_oracle_sql() -> str:
    """The store-funnel verdict as standalone SQL (doc_id, admitted) —
    the store half of _curation_incremental_oracle, reused by the
    rollup so both ledgers derive from one spec."""
    from gcp_datalake_utils_spark.llm import dedup
    bm = dedup.BATCH_MOD
    return f"""
WITH RECURSIVE
hx AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS content_md5
  FROM documents),
stats AS ({TOKEN_STATS_ORACLE}),
sig AS ({dedup.MINHASH_ORACLE}),
bk AS ({dedup._band_keys_sql()}),
sh AS (SELECT doc_id, unnest({dedup._SHINGLES_SQL}) AS s
       FROM documents),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
st_ex AS (
  SELECT doc_id, content_md5,
         doc_id = min(doc_id) OVER (PARTITION BY content_md5) AS ek
  FROM hx WHERE doc_id % {bm} <> 0),
st_surv AS (SELECT doc_id FROM st_ex WHERE ek),
st_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a
  JOIN bk b ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
  SEMI JOIN st_surv sa ON a.doc_id = sa.doc_id
  SEMI JOIN st_surv sb ON b.doc_id = sb.doc_id),
{_jaccard_ver_sql('st_cand', 'st')},
{_cc_keep_sql('st_ver', 'st')}
SELECT e.doc_id,
       (e.ek AND coalesce(k.keep, TRUE) AND s.quality_pass)
         AS admitted
FROM st_ex e JOIN stats s USING (doc_id)
LEFT JOIN st_keep k USING (doc_id)
"""
