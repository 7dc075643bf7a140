"""Round-8 operators: revenue pre-aggregation and nesting over the
orderkey store, pruned LM model, auto-scaled near-dup band width, G5
layout truth table."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm import lm, similarity
from gcp_datalake_utils_spark.operators import nested, payload


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- revenue_by_nation over the orderkey store -------------------------

def test_preagg_plan_no_expand_one_exchange(spark, sf_dir):
    plan = _executed_plan(payload.revenue_by_nation(spark, sf_dir))
    assert "Expand" not in plan, "exact-distinct Expand crept back"
    # the ONLY hash exchange is the final nation rollup; the per-order
    # agg and the orders join run on the bucketed layout
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "ShuffledHashJoin" in plan


# --- order_lines_nested over the orderkey store ------------------------

def test_nested_bucketed_plan_zero_exchange(spark, sf_dir):
    plan = _executed_plan(nested.order_lines_nested(spark, sf_dir))
    assert "Exchange" not in plan, \
        "bucket-local nesting must not shuffle the corpus"


# --- lm_doc_scores_pruned ----------------------------------------------

def test_pruned_model_is_strictly_smaller(spark, sf_dir):
    """The min-count filter must actually bound the driver model: the
    surviving bigram count is strictly below the distinct total (this
    corpus, like any Zipf text, is mostly hapax bigrams)."""
    bg = lm._bigram_rows(spark, sf_dir)
    counts = bg.groupBy("bg").agg(F.count("*").alias("c"))
    total = counts.count()
    kept = counts.where(F.col("c") >= lm.LM_MIN_COUNT).count()
    assert 0 < kept < total


def test_pruned_scores_subset_of_unpruned(spark, sf_dir):
    """Every bigram the pruned model scores is scored identically by
    the unpruned twin, so per-doc n_scored <= n_bigrams, with equality
    exactly when none of the doc's bigrams were pruned."""
    pruned = {r["doc_id"]: r for r in
              lm.lm_doc_scores_pruned(spark, sf_dir).collect()}
    full = {r["doc_id"]: r for r in
            lm.lm_doc_scores_arrow(spark, sf_dir).collect()}
    assert set(pruned) == set(full)
    assert any(pruned[d]["n_scored"] < full[d]["n_bigrams"]
               for d in pruned)
    for d, p in pruned.items():
        assert p["n_scored"] <= full[d]["n_bigrams"]
        if p["n_scored"] == 0:
            assert p["avg_logprob"] is None


# --- embedding_near_dups_auto ------------------------------------------

def test_auto_band_bits_grows_with_corpus():
    assert similarity._auto_band_bits(1_000) == 8
    assert similarity._auto_band_bits(100_000) == 11
    assert similarity._auto_band_bits(1_000_000) == 14
    # r10: bits no longer clamps at 16 — past-clamp corpora widen the
    # keys and compensate with more bands (see _auto_band_plan)
    assert similarity._auto_band_bits(10_000_000) == 18
    assert similarity._auto_band_bits(10**12) == similarity.ND_BITS_CAP


def test_auto_band_plan_compensates_past_16_bits():
    # inside the old clamp: 8 bands, unchanged semantics
    assert similarity._auto_band_plan(1_000) == (8, 8)
    assert similarity._auto_band_plan(1_000_000) == (14, 8)
    assert similarity._auto_band_plan(4_000_000) == (16, 8)
    # past it: +2 bands per extra bit (capture at cosine 0.95 stays
    # >= the 16x8 = 80% floor — block comment math)
    assert similarity._auto_band_plan(8_000_000) == (17, 10)
    assert similarity._auto_band_plan(10_000_000) == (18, 12)
    assert similarity._auto_band_plan(10**12) == (24, 24)
    # plane budget at the ceiling stays integer-hash safe
    bits, bands = similarity._auto_band_plan(10**12)
    k_max = bands * bits * similarity.N_DIMS - 1
    assert k_max * k_max * similarity._PA < 2**63


def test_auto_near_dups_planted_pair_recall(spark, sf_dir):
    """Planted near-identical pairs must survive the widened banding:
    duplicate 30 corpus vectors with tiny noise and assert the auto
    operator reports every planted pair (cosine ~ 1 >= 0.95, and a
    near-identical pair collides in every band with prob ~ 1)."""
    import numpy as np

    e = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .select("vec_id", "label", "embedding"))
    base = e.orderBy("vec_id").limit(30).collect()
    max_id = e.agg(F.max("vec_id")).collect()[0][0]
    rng = [(int(max_id + 1 + i), r["label"],
            [float(x) + 1e-6 * ((i + j) % 3 - 1)
             for j, x in enumerate(r["embedding"])])
           for i, r in enumerate(base)]
    planted = spark.createDataFrame(
        rng, "vec_id long, label int, embedding array<float>")
    corpus = e.unionByName(planted)

    import gcp_datalake_utils_spark.sources as src
    orig = src.load_table
    try:
        src.load_table = lambda s, d, name: (
            corpus if name == "embeddings" else orig(s, d, name))
        similarity.load_table = src.load_table
        pairs = {(r["vec_a"], r["vec_b"]) for r in
                 similarity.embedding_near_dups_auto(spark, sf_dir)
                 .collect()}
    finally:
        src.load_table = orig
        similarity.load_table = orig
    for i, r in enumerate(base):
        assert (r["vec_id"], max_id + 1 + i) in pairs, \
            f"planted pair for vec {r['vec_id']} lost by banding"


# --- grid_layout_coords -------------------------------------------------

def test_grid_layout_three_layouts_per_table(spark):
    from gcp_datalake_utils_spark.formatters import layout
    rows = layout.grid_layout_coords(spark).collect()
    per_table: dict = {}
    for r in rows:
        per_table.setdefault(r["table_id"], set()).add(r["layout"])
    assert all(v == {"grid", "row", "column"} for v in per_table.values())
    # row layout is a horizontal band: y == 0 everywhere
    assert all(r["y"] == 0.0 for r in rows if r["layout"] == "row")
    assert all(r["x"] == 0.0 for r in rows if r["layout"] == "column")


# --- bm25_topk -----------------------------------------------------------

def test_bm25_matches_brute_force(spark, sf_dir):
    """Pure-Python BM25 over the same tokenization must agree with the
    engine on every (query, rank, doc, round-6 score)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from gcp_datalake_utils_spark.llm import retrieval

    docs = {r["doc_id"]: (r["text"] or "").strip(" ").split(" ")
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}
    tfs = {d: Counter(t) for d, t in docs.items()}
    n_docs = len(docs)
    df = Counter()
    for c in tfs.values():
        df.update(c.keys())
    dl = {d: sum(c.values()) for d, c in tfs.items()}
    avgdl = sum(dl.values()) / n_docs
    q9, q6 = Decimal("0.000000001"), Decimal("0.000001")

    def r(x, q):
        return Decimal(repr(x)).quantize(q, ROUND_HALF_UP)

    expected = {}
    for qid in range(retrieval.N_BM25_QUERIES):
        terms = [t for t, _ in sorted(
            tfs[qid].items(), key=lambda kv: (-kv[1], kv[0]))
            [:retrieval.QUERY_TERMS]]
        scored = []
        for d, c in tfs.items():
            s = Decimal(0)
            hit = False
            for t in terms:
                tf = c.get(t)
                if not tf:
                    continue
                hit = True
                idf = math.log((n_docs - df[t] + 0.5)
                               / (df[t] + 0.5) + 1.0)
                s += r(idf * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)), q9)
            if hit:
                scored.append((float(r(float(s), q6)), d))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (sc, d) in enumerate(scored[:retrieval.BM25_TOPK], 1):
            expected[(qid, rank)] = (d, sc)

    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in retrieval.bm25_topk(spark, sf_dir).collect()}
    assert got == expected and len(got) > 0


# --- rfm_segments --------------------------------------------------------

def test_rfm_grid_invariants(spark, sf_dir):
    from gcp_datalake_utils_spark.operators import cohort

    rows = cohort.rfm_segments(spark, sf_dir).collect()
    n_cust = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .select("o_custkey").distinct().count())
    assert sum(r["n_customers"] for r in rows) == n_cust
    # ntile balance: per-dimension marginals differ by at most 1
    for dim in ("r_score", "f_score", "m_score"):
        marg = {}
        for r in rows:
            marg[r[dim]] = marg.get(r[dim], 0) + r["n_customers"]
        assert set(marg) == set(range(1, cohort.RFM_BINS + 1))
        assert max(marg.values()) - min(marg.values()) <= 1


# --- incremental_agg -----------------------------------------------------

def test_incremental_agg_equals_full_recompute(spark, sf_dir):
    """The maintained rollup must equal a Spark-side full recompute of
    snapshot v2 (the oracle asserts the same against DuckDB)."""
    from gcp_datalake_utils_spark.sources import snapshots as snap

    inc = {r["o_orderpriority"]: (r["n_orders"], r["total_cents"])
           for r in snap.incremental_agg_query(spark, sf_dir).collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v2 = (orders.where("o_orderkey % 3 <> 0")
          .withColumn("o_totalprice",
                      F.when(F.expr("o_orderkey % 5 = 0"),
                             F.col("o_totalprice") * 1.1)
                      .otherwise(F.col("o_totalprice"))))
    full = {r["o_orderpriority"]: (r["n"], r["c"])
            for r in v2.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.expr(snap._CENTS)).alias("c")).collect()}
    assert inc == full and len(inc) > 0


def test_rfm_no_single_partition_exchange(spark, sf_dir):
    """The distributed ntile must never plan the no-partition Window's
    SinglePartition exchange (DNF at 1e9 customers)."""
    from gcp_datalake_utils_spark.operators import cohort
    plan = cohort.rfm_segments(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_distributed_ntile_matches_window_ntile(spark, sf_dir):
    """_distributed_ntile must replicate F.ntile exactly, including the
    first-(n % bins)-buckets-take-one-extra rule."""
    from pyspark.sql import Window as W
    from gcp_datalake_utils_spark.operators import cohort

    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .select("o_orderkey", "o_totalprice").limit(1003))
    order = [F.desc("o_totalprice"), F.col("o_orderkey")]
    got = {r["o_orderkey"]: r["b"] for r in
           cohort._distributed_ntile(df, order, "b", 7).collect()}
    ref = {r["o_orderkey"]: r["b"] for r in
           df.withColumn("b", F.ntile(7).over(W.orderBy(*order))
                         .cast("int")).collect()}
    assert got == ref and len(got) == 1003


# --- multimodal kernel shapes --------------------------------------------

def test_frame_sample_fanout_and_bounds(spark, sf_dir):
    """1->N fan-out: sampled frame count per asset matches
    ceil(len/64) strided by 3; every non-final frame is full-size."""
    import math
    from gcp_datalake_utils_spark.llm import multimodal as mm

    frames: dict = {}
    for r in mm.media_frame_sample(spark, sf_dir).collect():
        frames.setdefault(r["asset_id"], []).append(r)
    lens = {r["doc_id"]: r["n"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "octet_length(encode(text, 'UTF-8')) AS n")
            .collect()}
    checked = 0
    for aid, n in lens.items():
        nf = math.ceil(n / mm.FRAME_BYTES)
        want = len(range(0, nf, mm.FRAME_STRIDE))
        got = frames.get(aid, [])
        assert len(got) == want
        for fr in got:
            full = (fr["frame_idx"] + 1) * mm.FRAME_BYTES <= n
            assert fr["frame_len"] == (mm.FRAME_BYTES if full
                                       else n - fr["frame_idx"]
                                       * mm.FRAME_BYTES)
        checked += 1
    assert checked > 0


def test_resize_stride_roundtrip(spark, sf_dir):
    import hashlib
    from gcp_datalake_utils_spark.llm import multimodal as mm

    got = {r["asset_id"]: r for r in
           mm.media_resize(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    for d in docs:
        b = d["text"].encode()[::mm.RESIZE_STRIDE]
        r = got[d["doc_id"]]
        assert r["resized_len"] == len(b)
        assert r["resized_md5"] == hashlib.md5(b).hexdigest()


def test_decontamination_hashed_matches_string_twin(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import decontam
    a = {tuple(r) for r in
         decontam.decontamination_hashed(spark, sf_dir).collect()}
    b = {tuple(r) for r in
         decontam.decontamination(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_c4_filters_brute_force(spark, sf_dir):
    import re as _re
    from gcp_datalake_utils_spark.llm import text as llm_text

    got = {r["doc_id"]: r for r in
           llm_text.c4_quality_filters(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    hits = 0
    for d in docs:
        ws = _re.split(r"\s+", d["text"].strip(" "))
        r = got[d["doc_id"]]
        assert r["n_words"] == len(ws)
        assert r["mean_word_len"] == round(
            sum(map(len, ws)) / len(ws), 6)
        assert r["ends_terminal"] == (
            d["text"].strip(" ")[-1:] in (".", "!", "?", '"'))
        if r["keep"]:
            hits += 1
    # the gate must actually separate: some docs kept, some dropped
    assert 0 < hits < len(docs)


def test_retention_policy_branches(spark, sf_dir):
    """Every policy branch must be populated and self-consistent."""
    from gcp_datalake_utils_spark.sources import snapshots as snap

    rows = snap.retention_policy_query(spark, sf_dir).collect()
    reasons = {}
    for r in rows:
        reasons.setdefault(r["reason"], []).append(r)
        assert r["keep"] == (r["reason"] != "vacuum")
    assert len(reasons["recent"]) == snap.KEEP_LAST
    assert reasons.get("daily") and reasons.get("vacuum")
    # the newest version is always kept
    newest = max(rows, key=lambda r: r["epoch_ms"])
    assert newest["keep"]
