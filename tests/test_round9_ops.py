"""Round-9 operators: df-capped BM25 twin, budgeted LM model,
fused multi-branch distributed ntile, cohort store plans, domain
curation family, BPE packing twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm import retrieval


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- bm25_topk_capped ----------------------------------------------------

def test_bm25_cap_bounds_candidates(spark, sf_dir):
    """The scoring join's probe side must be bounded by the kept
    terms' postings: every kept term either satisfies df*DEN <= N or
    is its query's single rarest fallback term — so candidate rows
    <= Q*T*N/DEN + sum(fallback dfs), a bound the operator owns."""
    from gcp_datalake_utils_spark.llm.terms import doc_term_pairs
    from gcp_datalake_utils_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    pairs = doc_term_pairs(d)
    dft = pairs.groupBy("term").agg(F.count("*").alias("df"))
    out = retrieval.bm25_topk_capped(spark, sf_dir)
    rows = out.collect()
    assert rows, "capped twin must not go empty (fallback term rule)"
    # reconstruct the kept query-term set exactly as the operator does
    from pyspark.sql import Window
    wq = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "term")
    qterms = (pairs.where(F.col("doc_id") < retrieval.N_BM25_QUERIES)
              .withColumn("rk", F.row_number().over(wq))
              .where(F.col("rk") <= retrieval.QUERY_TERMS)
              .select(F.col("doc_id").alias("query_id"), "term"))
    wdf = Window.partitionBy("query_id").orderBy("df", "term")
    jt = (qterms.join(dft, "term")
          .withColumn("dfrk", F.row_number().over(wdf)))
    kept = jt.where(
        (F.col("df") * retrieval.BM25_DF_CAP_DEN <= F.lit(n_docs))
        | (F.col("dfrk") == 1)).collect()
    dropped = jt.where(
        (F.col("df") * retrieval.BM25_DF_CAP_DEN > F.lit(n_docs))
        & (F.col("dfrk") != 1)).count()
    assert dropped > 0, \
        "cap must bind on the tiny-vocab fixture corpus"
    # every kept non-fallback term is under the cap
    for r in kept:
        assert (r["df"] * retrieval.BM25_DF_CAP_DEN <= n_docs
                or r["dfrk"] == 1)
    # at most one fallback per query
    fallbacks = [r for r in kept
                 if r["df"] * retrieval.BM25_DF_CAP_DEN > n_docs]
    per_query = {}
    for r in fallbacks:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert all(v == 1 for v in per_query.values())
    # the actual candidate row count equals sum(df of kept terms)
    cand = (pairs.join(
        spark.createDataFrame([(r["query_id"], r["term"])
                               for r in kept], "query_id long, term string"),
        "term").count())
    assert cand == sum(r["df"] for r in kept)


def test_bm25_capped_is_subset_ranking_of_kept_terms(spark, sf_dir):
    """Sanity: capped output ranks <= BM25_TOPK per query and scores
    are monotone non-increasing within a query."""
    out = retrieval.bm25_topk_capped(spark, sf_dir).collect()
    byq = {}
    for r in out:
        byq.setdefault(r["query_id"], []).append(r)
    for q, rs in byq.items():
        rs.sort(key=lambda r: r["rank"])
        assert rs[0]["rank"] == 1
        assert len(rs) <= retrieval.BM25_TOPK
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)


# --- lm_doc_scores_pruned model-row budget --------------------------------

def test_lm_model_budget_enforced(spark, sf_dir, monkeypatch):
    """On a corpus where T=LM_MIN_COUNT would exceed the row budget,
    the derived threshold must rise until the surviving model fits."""
    from gcp_datalake_utils_spark.llm import lm

    bgc = lm._bigram_rows(spark, sf_dir).groupBy("w1", "bg").agg(
        F.count("*").alias("c_bg")).localCheckpoint()
    at_floor = bgc.where(F.col("c_bg") >= lm.LM_MIN_COUNT).count()
    assert at_floor > 10, "fixture corpus too small for this test"
    budget = at_floor // 3  # force the budget to bind
    t = lm._min_count_for_budget(bgc, budget)
    assert t > lm.LM_MIN_COUNT
    kept = bgc.where(F.col("c_bg") >= t).count()
    assert kept <= budget
    # minimality: one bucket lower would bust the budget
    prev = (bgc.where(F.col("c_bg") >= lm.LM_MIN_COUNT)
            .where(F.col("c_bg") < t)
            .agg(F.max("c_bg")).collect()[0][0])
    if prev is not None:
        assert bgc.where(F.col("c_bg") >= prev).count() > budget
    # end-to-end: the operator still scores under the tight budget
    monkeypatch.setattr(lm, "LM_MODEL_MAX_ROWS", budget)
    out = lm.lm_doc_scores_pruned(spark, sf_dir)
    assert out.count() > 0


def test_lm_default_budget_keeps_fixture_model_whole(spark, sf_dir):
    """At fixture scale the 100k-row budget must NOT bind (tiny
    vocabulary): threshold stays at the hapax floor, so the driver
    gate keeps hashing the same pruned model as round 8."""
    from gcp_datalake_utils_spark.llm import lm

    bgc = lm._bigram_rows(spark, sf_dir).groupBy("w1", "bg").agg(
        F.count("*").alias("c_bg"))
    t = lm._min_count_for_budget(bgc, lm.LM_MODEL_MAX_ROWS)
    kept = bgc.where(F.col("c_bg") >= t)
    floor = bgc.where(F.col("c_bg") >= lm.LM_MIN_COUNT)
    assert kept.count() == floor.count() <= lm.LM_MODEL_MAX_ROWS


# --- fused distributed ntile (rfm_segments) --------------------------------

def test_rfm_fused_matches_chained(spark, sf_dir):
    from gcp_datalake_utils_spark.operators import cohort

    a = {tuple(r) for r in cohort.rfm_segments(spark, sf_dir).collect()}
    b = {tuple(r) for r in
         cohort._rfm_segments_chained(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_rfm_fused_plan_no_single_partition(spark, sf_dir):
    from gcp_datalake_utils_spark.operators import cohort

    df = cohort.rfm_segments(spark, sf_dir)
    plan = _executed_plan(df)
    assert "SinglePartition" not in plan, \
        "fused ntile must never plan a single-partition exchange"


def test_ntile_multi_matches_sql_ntile(spark):
    """Exact SQL-ntile semantics per branch on a frame with ties and
    a non-divisible bin count."""
    from gcp_datalake_utils_spark.functions.ranking import (
        distributed_ntile_multi,
    )

    rows = [(i, i % 7, (i * 13) % 5) for i in range(103)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    out = distributed_ntile_multi(
        df, "k", [(F.col("a"), "na"), (-F.col("b"), "nb")], 4)
    got = {r["k"]: (r["na"], r["nb"]) for r in out.collect()}
    df.createOrReplaceTempView("t_ntile_multi")
    exp = {r["k"]: (r["na"], r["nb"]) for r in spark.sql(
        """SELECT k, ntile(4) OVER (ORDER BY a, k) AS na,
                  ntile(4) OVER (ORDER BY b DESC, k) AS nb
           FROM t_ntile_multi""").collect()}
    assert got == exp


# --- cohort family over the daily-activity store (r8 verdict ask #4) --------

def test_preagg_cohort_plans_have_no_user_exchange(spark, sf_dir):
    """The whole point of the bucketed store: per-user agg/join/window
    stages run on the scan's HashPartitioning(user_id) with no
    re-exchange. Retention's shape is additionally Sort-free."""
    from gcp_datalake_utils_spark.operators import cohort

    for fn, sortfree in [(cohort.retention_cohorts, True),
                         (cohort.path_transitions, False),
                         (cohort.active_users_rolling7, False)]:
        df = fn(spark, sf_dir)
        df.collect()
        plan = _executed_plan(df)
        assert "Exchange hashpartitioning(user_id" not in plan, fn
        assert "Exchange rangepartitioning" not in plan, fn
        if sortfree:
            assert "+- Sort" not in plan and "+- *(1) Sort" not in plan, \
                "retention_cohorts must be hash-agg + hash-join, no Sort"


def test_daily_activity_store_one_file_per_bucket(spark, sf_dir):
    """One file per bucket is the contract the bucket-local plans rest
    on (and the precondition for ever exploiting read order)."""
    import glob
    import re

    from gcp_datalake_utils_spark.operators import cohort

    t_act, _ = cohort._ensure_daily_activity(spark, sf_dir)
    loc = (spark.sql(f"DESCRIBE EXTENDED {t_act}")
           .where("col_name = 'Location'").collect()[0]["data_type"])
    files = glob.glob(loc.replace("file:", "") + "/part-*")
    buckets = [re.search(r"_(\d{5})", f.rsplit("/", 1)[-1]).group(1)
               for f in files]
    # empty buckets write no file on tiny corpora: the contract is AT
    # MOST one file per bucket (no bucket split across files)
    assert buckets and len(buckets) == len(set(buckets)) <= 32


# --- domain curation family (r8 verdict ask #7) ------------------------------

def test_domain_dedup_keeps_min_doc(spark):
    """The corpus has no exact dupes, so the keep-min-canonical
    semantics are pinned here on a fixture WITH mirrors."""
    from gcp_datalake_utils_spark.llm import domains

    rows = [(1, "same page", 10), (65, "same page", 20),
            (129, "other", 7), (2, "same page", 9)]
    d = (spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long")
         .withColumn("domain", F.expr(domains._DOMAIN_SPARK)))
    # doc_ids 1, 65, 129 share domain d1&..: 1%64&0=... compute via df
    out = {r["domain"]: r for r in
           domains._dedup_rollup_frame(d).collect()}
    doms = {r["doc_id"]: r["domain"] for r in d.collect()}
    # all fixture docs whose domain coincides collapse by text
    for dom, r in out.items():
        ids = [i for i, dm in doms.items() if dm == dom]
        assert r["n_docs"] == len(ids)
    # the three 'same page' docs: wherever they share a domain, the
    # canonical is the min doc_id and canon_chars reflects ITS n_chars
    same = [(i, c) for i, t, c in
            [(1, "same page", 10), (65, "same page", 20),
             (2, "same page", 9)]]
    by_dom = {}
    for i, c in same:
        by_dom.setdefault(doms[i], []).append((i, c))
    for dom, pairs in by_dom.items():
        canon_chars = min(pairs)[1]
        others = out[dom]["canon_chars"]
        assert canon_chars <= others  # canonical included with min id


def test_domain_quota_salted_equals_naive(spark, sf_dir):
    """The salted two-phase top-N must return exactly the naive
    single-window result (phase 1 keeps a superset of the global
    top-CAP per domain)."""
    from pyspark.sql import Window

    from gcp_datalake_utils_spark.llm import domains
    from gcp_datalake_utils_spark.sources import load_table

    got = {tuple(r) for r in
           domains.domain_quota_sample(spark, sf_dir).collect()}
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "n_chars")
         .withColumn("domain", F.expr(domains._DOMAIN_SPARK)))
    w = Window.partitionBy("domain").orderBy("doc_id")
    kept = (d.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= domains.DOMAIN_CAP))
    naive = (d.groupBy("domain").agg(F.count("*").alias("n_docs"))
             .join(kept.groupBy("domain").agg(
                 F.count("*").cast("long").alias("n_kept"),
                 F.sum("n_chars").cast("long").alias("kept_chars")),
                 "domain")
             .select("domain", "n_docs", "n_kept", "kept_chars"))
    exp = {tuple(r) for r in naive.collect()}
    assert got == exp and len(got) > 0


# --- tokenizer-aware packing twin (r8 verdict ask #8) ------------------------

def test_bpe_packing_cross_checks_whitespace_anchor(spark, sf_dir):
    """Same chunk set, one token currency: every chunk's BPE count is
    >= its whitespace count (each word is >= 1 BPE token), offsets are
    exact prefix sums, and pack cuts respect the budget."""
    from gcp_datalake_utils_spark.llm import packing

    ws = {(r["bucket"], r["doc_id"], r["chunk_idx"]): r
          for r in packing.sequence_packing(spark, sf_dir).collect()}
    bpe = {(r["bucket"], r["doc_id"], r["chunk_idx"]): r
           for r in packing.sequence_packing_bpe(spark, sf_dir).collect()}
    assert ws.keys() == bpe.keys() and len(ws) > 0
    for k, rb in bpe.items():
        assert rb["n_bpe_tokens"] >= ws[k]["n_chunk_tokens"]
        assert rb["pack_local"] == rb["start_offset"] // packing.PACK_BUDGET
    # per bucket: offsets are the exact prefix sum of BPE counts
    by_bucket = {}
    for (b, d, c), r in bpe.items():
        by_bucket.setdefault(b, []).append((d, c, r))
    for b, rows in by_bucket.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        acc = 0
        for d, c, r in rows:
            assert r["start_offset"] == acc
            acc += r["n_bpe_tokens"]


# --- dynamic partition pruning (round-9 infra row) ---------------------------

def test_events_dpp_join_plans_dynamic_pruning(spark, sf_dir):
    """The day filter must reach the partitioned store scan as a
    runtime dynamicpruning subquery, not a post-scan predicate — and
    there must genuinely be partitions to prune (the month-granularity
    version degenerated to one directory and pruned nothing)."""
    import glob

    from gcp_datalake_utils_spark.sources import partitioned

    df = partitioned.events_dpp_join(spark, sf_dir)
    rows = df.collect()
    assert rows
    plan = _executed_plan(df)
    assert "dynamicpruningexpression" in plan
    loc = partitioned._ensure_events_by_day(spark, sf_dir)
    n_dirs = len(glob.glob(loc + "/event_day=*"))
    kept_days = {r["event_day"] for r in rows}
    assert n_dirs > 1 and len(kept_days) < n_dirs, \
        "store must have more day partitions than the dim keeps"


# --- per-source decile calibration (group-boundary ntile) --------------------

def test_group_ntile_boundaries_match_sql(spark):
    """Per-group cut-row bucketing equals SQL ntile per group on a
    frame with ties, uneven group sizes, and a non-divisible bin
    count."""
    from gcp_datalake_utils_spark.functions.ranking import (
        bucket_by_boundaries,
        group_ntile_boundaries,
    )

    rows = [(i, f"g{i % 3}", (i * 7) % 11) for i in range(101)]
    df = spark.createDataFrame(rows, "k long, g string, v long")
    cuts = group_ntile_boundaries(df, "g", F.col("v"), "k", 4)
    bucket = None
    for g, c in cuts.items():
        b = bucket_by_boundaries(F.col("v"), F.col("k"), c)
        bucket = (F.when(F.col("g") == g, b) if bucket is None
                  else bucket.when(F.col("g") == g, b))
    got = {r["k"]: r["d"] for r in
           df.withColumn("d", bucket.cast("int")).collect()}
    df.createOrReplaceTempView("t_gnb")
    exp = {r["k"]: r["d"] for r in spark.sql(
        """SELECT k, ntile(4) OVER (PARTITION BY g ORDER BY v, k) AS d
           FROM t_gnb""").collect()}
    assert got == exp


def test_source_length_deciles_no_single_partition(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import curation

    df = curation.source_length_deciles(spark, sf_dir)
    plan = _executed_plan(df)
    assert "SinglePartition" not in plan


# --- semantic decontamination -------------------------------------------------

def test_embedding_decontamination_zero_exchange(spark, sf_dir):
    """Bench matrix is a broadcast closure constant: the whole
    operator must plan as one narrow map — no Exchange of any kind."""
    from gcp_datalake_utils_spark.llm import similarity_arrow as sa

    df = sa.embedding_decontamination(spark, sf_dir)
    rows = df.collect()
    assert rows
    plan = _executed_plan(df)
    assert "Exchange" not in plan
    for r in rows:
        assert r["contaminated"] == (r["n_hits"] > 0)
        assert (r["n_hits"] == 0) or (r["max_sim"] >= sa.DECON_T)


def test_source_deciles_approx_brackets_exact(spark, sf_dir):
    """The approx cuts must land within the exact per-source decile
    ranges (approx_percentile with accuracy 10k is exact when the
    distinct-value count is below it, as on these corpora — the
    bracket still allows one rank of slack at scale)."""
    from gcp_datalake_utils_spark.functions.ranking import (
        group_ntile_boundaries,
    )
    from gcp_datalake_utils_spark.llm import curation
    from gcp_datalake_utils_spark.sources import load_table

    approx = {r["source"]: r["cuts"] for r in
              curation.source_length_deciles_approx(
                  spark, sf_dir).collect()}
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source",
                 F.size(F.split(F.trim("text"), r"\s+"))
                 .cast("long").alias("nw")).localCheckpoint()
    exact = group_ntile_boundaries(
        t, "source", F.col("nw"), "doc_id", curation.CALIBRATION_BINS)
    by_src = {r["source"]: sorted(x["nw"] for x in rows) for
              (r, rows) in
              ((r, t.where(F.col("source") == r["source"])
                .select("nw").collect())
               for r in t.select("source").distinct().collect())}
    assert set(approx) == set(exact)
    import bisect
    for src, cuts in approx.items():
        vals = by_src[src]
        n = len(vals)
        assert len(cuts) == curation.CALIBRATION_BINS - 1
        for k, a in enumerate(cuts, start=1):
            assert vals[0] <= a <= vals[-1]
            # bracket in RANK space (quantile conventions differ in
            # VALUE on lumpy distributions): rows <= cut must sit
            # near k/bins of the source
            rank = bisect.bisect_right(vals, a)
            target = k * n / curation.CALIBRATION_BINS
            assert abs(rank - target) <= max(3, n // 50), \
                (src, k, rank, target)


def test_group_ntile_boundaries_extreme_skew(spark):
    """90% of rows in one group — the distribution the machinery
    exists for (a per-group window would hand the hot group to one
    task). Exactness must hold when a group spans many range
    partitions and cold groups share partitions."""
    from gcp_datalake_utils_spark.functions.ranking import (
        bucket_by_boundaries,
        group_ntile_boundaries,
    )

    rows = [(i, "hot", (i * 17) % 13) for i in range(9000)]
    rows += [(9000 + i, f"c{i % 10}", (i * 7) % 5) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, g string, v long") \
        .repartition(32)
    cuts = group_ntile_boundaries(df, "g", F.col("v"), "k", 5)
    bucket = None
    for g, c in cuts.items():
        b = bucket_by_boundaries(F.col("v"), F.col("k"), c)
        bucket = (F.when(F.col("g") == g, b) if bucket is None
                  else bucket.when(F.col("g") == g, b))
    got = {r["k"]: r["d"] for r in
           df.withColumn("d", bucket.cast("int")).collect()}
    df.createOrReplaceTempView("t_gnb_skew")
    exp = {r["k"]: r["d"] for r in spark.sql(
        """SELECT k, ntile(5) OVER (PARTITION BY g ORDER BY v, k) AS d
           FROM t_gnb_skew""").collect()}
    assert got == exp
