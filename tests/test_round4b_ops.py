"""Round-4 continuation operators: paragraph-level dedup, bigram LM
scoring, A-ES weighted sampling."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm import lm, paradedup, sampling
from gcp_datalake_utils_spark.sources import load_table


def test_paragraph_dedup_brute_force(spark, sf_dir):
    """Per-doc kept counts must match a driver-side replay of the
    first-occurrence rule over the same 16-token segmentation."""
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    seen: set[str] = set()
    want: dict[int, tuple[int, int, int]] = {}
    for d in sorted(docs, key=lambda r: r.doc_id):
        words = d.text.strip().split(" ")
        segs = [" ".join(words[i:i + paradedup.SEG_TOKENS])
                for i in range(0, len(words), paradedup.SEG_TOKENS)] or [""]
        kept = tokens = 0
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept += 1
                tokens += len(s.split(" "))
        want[d.doc_id] = (len(segs), kept, tokens)
    got = {r.doc_id: (r.n_segs, r.n_kept, r.kept_tokens)
           for r in paradedup.paragraph_dedup(spark, sf_dir).collect()}
    assert got == want


def test_paragraph_dedup_ratio_bounds(spark, sf_dir):
    for r in paradedup.paragraph_dedup(spark, sf_dir).collect():
        assert 0.0 < r.kept_ratio <= 1.0
        assert r.n_kept <= r.n_segs


def test_lm_scores_match_manual_model(spark, sf_dir):
    """Spot-check a few documents against a driver-side add-half bigram
    model trained on the full corpus."""
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    from collections import Counter
    bgc: Counter = Counter()
    ctxc: Counter = Counter()
    vocab: set[str] = set()
    toks = {d.doc_id: d.text.strip().split(" ") for d in docs}
    for ws in toks.values():
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            bgc[(a, b)] += 1
            ctxc[a] += 1
    v = len(vocab)
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob)
           for r in lm.lm_doc_scores(spark, sf_dir).collect()}
    assert set(got) == set(toks)
    for doc_id in list(toks)[:20]:
        ws = toks[doc_id]
        pairs = list(zip(ws, ws[1:]))
        n_bg, avg = got[doc_id]
        assert n_bg == len(pairs)
        if not pairs:
            assert avg is None
            continue
        s = sum(round(math.log((bgc[p] + 0.5) / (ctxc[p[0]] + 0.5 * v)),
                      9) for p in pairs)
        assert abs(avg - round(s / len(pairs), 6)) < 2e-6
        assert avg < 0  # log-probs are negative


def test_weighted_sample_deterministic_and_ranked(spark, sf_dir):
    a = sampling.weighted_sample(spark, sf_dir).collect()
    b = sampling.weighted_sample(spark, sf_dir).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len(a) == min(
        sampling.WSAMPLE_N,
        load_table(spark, sf_dir, "documents").count())
    ranks = [r.ws_rank for r in a]
    assert ranks == list(range(1, len(a) + 1))
    keys = [r.es_key for r in a]
    assert keys == sorted(keys)


def test_weighted_sample_favors_heavy_docs(spark, sf_dir):
    """The sampled mean weight must exceed the corpus mean — the whole
    point of w-proportional sampling."""
    d = load_table(spark, sf_dir, "documents")
    corpus_mean = d.agg(F.avg("n_chars")).first()[0]
    sample = sampling.weighted_sample(spark, sf_dir).collect()
    sample_mean = sum(r.weight for r in sample) / len(sample)
    assert sample_mean > corpus_mean


def test_ann_recall_audit_bounds(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import similarity
    rows = similarity.ann_recall_audit(spark, sf_dir).collect()
    assert len(rows) == similarity.N_BATCH_QUERIES
    for r in rows:
        assert 0 <= r.hits <= min(r.n_ann, similarity.BATCH_TOP_K)
        assert r.n_ann <= similarity.BATCH_TOP_K
        assert abs(r.recall - r.hits / similarity.BATCH_TOP_K) < 1e-9


def test_cosine_topk_arrow_matches_jvm(spark, sf_dir):
    """The Arrow-scored operator must return the identical ranked
    result as the JVM fold operator."""
    from gcp_datalake_utils_spark.llm import similarity, similarity_arrow
    jvm = [tuple(r) for r in
           similarity.cosine_topk(spark, sf_dir).collect()]
    arrow = [tuple(r) for r in
             similarity_arrow.cosine_topk_arrow(spark, sf_dir).collect()]
    assert arrow == jvm


def test_ann_rerank_subset_of_candidates(spark, sf_dir):
    """Reranked rows must be a subset of stage-1 candidates, ranks
    dense per query, scores in (0, 1]."""
    from gcp_datalake_utils_spark.llm import similarity, similarity_arrow
    cand = {(r.query_id, r.vec_id)
            for r in similarity.batch_ann_topk(spark, sf_dir).collect()}
    rows = similarity_arrow.ann_rerank(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert (r.query_id, r.vec_id) in cand
        assert 0.0 < r.rerank_score <= 1.0
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= similarity_arrow.RERANK_K


def test_lm_quality_bins_partition_corpus(spark, sf_dir):
    """Bins must partition the scored docs into N near-equal groups
    with non-overlapping, descending score ranges."""
    from gcp_datalake_utils_spark.llm import lm
    scored = lm.lm_doc_scores(spark, sf_dir) \
        .where(F.col("avg_logprob").isNotNull()).count()
    rows = sorted(lm.lm_quality_bins(spark, sf_dir).collect(),
                  key=lambda r: r.bin)
    assert [r.bin for r in rows] == \
        list(range(1, lm.N_QUALITY_BINS + 1))
    assert sum(r.n_docs for r in rows) == scored
    assert max(r.n_docs for r in rows) \
        - min(r.n_docs for r in rows) <= 1
    for hi, lo in zip(rows, rows[1:]):
        assert hi.worst_lp >= lo.best_lp


@pytest.mark.parametrize("bits,bands", [(16, 1), (32, 2)],
                         ids=["bucket16", "halves64"])
def test_rp_signature_matches_jvm_reference(spark, sf_dir, bits, bands):
    """The one signature kernel puts every vector on the bits of the
    JVM references: the 16-plane HOF fold's bucket at (16, 1), and the
    exploded 64-plane aggregate's (b_lo, b_hi) at (32, 2)."""
    from gcp_datalake_utils_spark.llm import similarity
    e = load_table(spark, sf_dir, "embeddings")
    if bands == 1:
        jvm = {r.vec_id: [r.bucket] for r in e.select(
            "vec_id",
            similarity._bucket_spark("embedding").alias("bucket"))
            .collect()}
    else:
        jvm = {r.vec_id: [r.b_lo, r.b_hi]
               for r in similarity._bucket64_exploded(e).collect()}
    got = {r.vec_id: r["keys"] for r in similarity._rp_signature(
        e.select("vec_id", "label", "embedding"), bits, bands)
        .select("vec_id", "keys").collect()}
    assert got == jvm


def test_near_dups64_finds_planted_pairs(spark, sf_dir):
    """Plant three 0.95+-cosine pairs (tiny perturbations of a base
    vector, same label) among random-ish fillers and assert the 64-bit
    banded join finds exactly the planted pairs — a non-vacuous check
    the 0-row driver corpus cannot give."""
    import math
    import random
    from gcp_datalake_utils_spark.llm import similarity
    rng = random.Random(7)
    rows = []
    for pair in range(3):
        base = [rng.uniform(-1, 1) for _ in range(similarity.N_DIMS)]
        bumped = list(base)
        bumped[0] += 0.01  # ~0.9999 cosine
        rows.append((100 + 2 * pair, base, 1))
        rows.append((101 + 2 * pair, bumped, 1))
    for i in range(40):  # fillers: random directions, same label
        rows.append((200 + i,
                     [rng.uniform(-1, 1)
                      for _ in range(similarity.N_DIMS)], 1))
    e = spark.createDataFrame(
        [(i, [float(x) for x in v], lbl) for i, v, lbl in rows],
        "vec_id long, embedding array<float>, label int")
    got = {(r.vec_a, r.vec_b)
           for r in similarity._near_dups64_from(e).collect()}
    want = {(100, 101), (102, 103), (104, 105)}
    assert want <= got
    # anything extra must genuinely be >= 0.95 cosine (verify stage)
    vecs = {i: v for i, v, _ in rows}
    for a, b in got:
        va, vb = vecs[a], vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        assert dot / (na * nb) >= 0.95


def test_profile_orders_matches_pandas(spark, sf_dir):
    """Profile rows must match a pandas replay of the same analyzers."""
    import pandas as pd
    from gcp_datalake_utils_spark.operators import profile
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    got = {r.column_name: r for r in
           profile.profile_orders(spark, sf_dir).collect()}
    assert set(got) == {c for c, _ in profile.PROFILE_COLS}
    for c, kind in profile.PROFILE_COLS:
        r = got[c]
        assert r.n_rows == len(pdf)
        assert r.n_nulls == int(pdf[c].isna().sum())
        assert r.n_distinct == pdf[c].nunique()
        if kind == "num":
            assert r.min_num == float(pdf[c].min())
            assert r.max_num == float(pdf[c].max())
        elif kind == "str":
            assert r.min_str == pdf[c].min()
            assert r.max_str == pdf[c].max()


def test_profile_orders_single_scan_plan(spark, sf_dir):
    """All analyzers must live in ONE aggregation over ONE scan."""
    from gcp_datalake_utils_spark.operators import profile
    df = profile.profile_orders(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))
    # formatted mode prints each node twice (tree + numbered detail)
    assert plan.count("Scan parquet") == 2


def test_evolving_read_backfills_nulls(spark, sf_dir):
    """The legacy generation must read back with a NULL-filled new
    column; the modern generation keeps its values."""
    from gcp_datalake_utils_spark.sources import evolution
    rows = {r.generation: r
            for r in evolution.evolving_read(spark, sf_dir).collect()}
    assert set(rows) == {0, 1}
    g0, g1 = rows[0], rows[1]
    assert g0.n_null_rank == g0.n_rows  # every legacy row back-filled
    assert g0.rank_sum == 0
    assert g1.n_null_rank == 0
    assert g1.rank_sum > 0


def test_events_pivot_matches_long_form(spark, sf_dir):
    """Wide counts must equal the long-form groupBy; totals add up."""
    from gcp_datalake_utils_spark.operators import pivot
    from gcp_datalake_utils_spark.sources.registry import load_events
    e = load_events(spark, sf_dir)
    long_form = {(r.day, r.event_type): r.n for r in
                 e.groupBy(
                     F.date_format(F.date_trunc("day", "ts"),
                                   "yyyy-MM-dd").alias("day"),
                     "event_type")
                 .agg(F.count("*").alias("n")).collect()}
    rows = pivot.events_pivot(spark, sf_dir).collect()
    assert rows
    for r in rows:
        total = 0
        for t in pivot.EVENT_TYPES:
            n = getattr(r, f"n_{t}")
            assert n == long_form.get((r.day, t), 0)
            total += n
        assert r.n_total == total


def test_events_rolling_trailing_window(spark, sf_dir):
    """The 7-day figure must equal the sum of daily figures within
    [d-6, d] replayed driver-side from the daily frame itself."""
    from gcp_datalake_utils_spark.operators import pivot
    rows = pivot.events_rolling(spark, sf_dir).collect()
    daily = {(r.event_type, r.day_num): r.n_day for r in rows}
    for r in rows:
        want = sum(daily.get((r.event_type, d), 0)
                   for d in range(r.day_num - 6, r.day_num + 1))
        assert r.n_7d == want
        assert r.n_7d >= r.n_day


def test_events_gapfill_dense_and_consistent(spark, sf_dir):
    """Every type's series must be contiguous in hours, zeros filled,
    and the nonzero entries must equal the sparse hourly counts."""
    from gcp_datalake_utils_spark.operators import pivot
    from gcp_datalake_utils_spark.sources.registry import load_events
    rows = pivot.events_gapfill(spark, sf_dir).collect()
    by_type: dict[str, dict[int, int]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, {})[r.hour_num] = r.n
    total = sum(r.n for r in rows)
    assert total == load_events(spark, sf_dir).count()
    for t, series in by_type.items():
        hours = sorted(series)
        assert hours == list(range(hours[0], hours[-1] + 1)), t
        assert series[hours[0]] > 0 and series[hours[-1]] > 0


def test_zorder_interleave_and_locality(spark, sf_dir):
    """The Morton key must interleave bits exactly, and bucket
    bounding boxes must be tighter than the global extent on BOTH
    dimensions for most buckets (the point of z-ordering)."""
    from gcp_datalake_utils_spark.sources import zorder
    rows = zorder.zorder_layout(spark, sf_dir).collect()
    assert rows

    def morton(a: int, b: int) -> int:
        z = 0
        for i in range(zorder.Z_BITS):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    # spot-check the bit math against a python replay
    assert morton(0b1111, 0) == 0b01010101
    assert morton(0, 0b1111) == 0b10101010
    g_cust = (min(r.min_cust for r in rows),
              max(r.max_cust for r in rows))
    g_day = (min(r.min_day for r in rows), max(r.max_day for r in rows))
    tight = sum(
        1 for r in rows
        if (r.max_cust - r.min_cust) < (g_cust[1] - g_cust[0])
        and (r.max_day - r.min_day) < (g_day[1] - g_day[0]))
    assert tight >= len(rows) // 2
