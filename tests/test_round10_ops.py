"""Round-10 additions: substring-span dedup removal (Lee et al.
ExactSubstr transform) — brute-force replay + crafted edge corpus."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pytest

from gcp_datalake_utils_spark.llm import spandedup
from gcp_datalake_utils_spark.llm.ngramdup import NGRAM


def _replay(docs: list[tuple[int, str]]) -> dict[int, dict]:
    """Driver-side naive replay of the span-removal semantics: count
    every sliding 5-gram corpus-wide as a STRING, mark each word
    covered by any duplicated-gram occurrence, reconstruct."""
    toks = {i: re.split(r"\s+", t.strip()) for i, t in docs}
    gcount: Counter = Counter()
    for ws in toks.values():
        gcount.update(" ".join(ws[i:i + NGRAM])
                      for i in range(len(ws) - NGRAM + 1))
    out = {}
    for doc_id, ws in toks.items():
        n = len(ws)
        covered = [False] * n
        for i in range(n - NGRAM + 1):
            if gcount[" ".join(ws[i:i + NGRAM])] > 1:
                for j in range(i, i + NGRAM):
                    covered[j] = True
        runs = sum(1 for j in range(n)
                   if covered[j] and (j == 0 or not covered[j - 1]))
        kept = " ".join(w for w, c in zip(ws, covered) if not c)
        out[doc_id] = {
            "n_tokens": n,
            "n_removed_tokens": sum(covered),
            "n_removed_runs": runs,
            "kept_text_md5": hashlib.md5(kept.encode()).hexdigest(),
        }
    return out


def test_span_removal_matches_brute_force(spark, sf_dir):
    got = {r["doc_id"]: r
           for r in spandedup.span_dedup_removal(spark, sf_dir).collect()}
    docs = [(r["doc_id"], r["text"])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()]
    want = _replay(docs)
    assert set(got) == set(want)
    trimmed = 0
    for doc_id, w in want.items():
        g = got[doc_id]
        for k in w:
            assert g[k] == w[k], (doc_id, k, g[k], w[k])
        trimmed += w["n_removed_tokens"] > 0
    assert trimmed > 0  # the corpus genuinely exercises removal


def test_span_removal_crafted_edges(spark, tmp_path):
    """Edge semantics pinned on a corpus built for them: cross-doc
    span at DIFFERENT offsets, overlapping grams fusing into one run,
    intra-doc repeat, fully-duplicated doc, sub-gram-length doc."""
    span = "the quick brown fox jumps over"          # 6 words
    docs = [
        # span at offset 3 here, offset 0 in doc 1 -> both trimmed
        (0, "alpha beta gamma " + span + " delta epsilon zeta eta"),
        (1, span + " one two three four five six"),
        # intra-doc repeat: same 5 words twice inside one document
        (2, "p q r s t x1 x2 x3 x4 x5 p q r s t"),
        # fully duplicated pair -> kept text '' for both
        (3, "w1 w2 w3 w4 w5 w6"),
        (4, "w1 w2 w3 w4 w5 w6"),
        # shorter than one gram -> untouched
        (5, "just four small words"),
        # unique long doc -> untouched
        (6, " ".join(f"u{i}" for i in range(20))),
    ]
    loc = str(tmp_path / "edge")
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(f"{loc}/documents.parquet")
    got = {r["doc_id"]: r
           for r in spandedup.span_dedup_removal(spark, loc).collect()}
    want = _replay(docs)
    assert {k: dict(zip(
        ("n_tokens", "n_removed_tokens", "n_removed_runs",
         "kept_text_md5"),
        (got[k]["n_tokens"], got[k]["n_removed_tokens"],
         got[k]["n_removed_runs"], got[k]["kept_text_md5"])))
        for k in got} == want
    # the hand-checkable facts, independent of the replay:
    assert got[0]["n_removed_tokens"] == 6  # exactly the shared span
    assert got[0]["n_removed_runs"] == 1    # 2 overlapping grams, 1 run
    assert got[1]["n_removed_tokens"] == 6
    assert got[2]["n_removed_tokens"] == 10  # both copies cut
    assert got[2]["n_removed_runs"] == 2
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert got[3]["kept_text_md5"] == empty_md5
    assert got[4]["kept_text_md5"] == empty_md5
    assert got[5]["n_removed_tokens"] == 0
    assert got[6]["n_removed_tokens"] == 0
    assert got[6]["kept_text_md5"] == hashlib.md5(
        " ".join(f"u{i}" for i in range(20)).encode()).hexdigest()


def test_span_removal_plan_shape(spark, sf_dir):
    """No all-pairs anywhere: gram-hash window + doc-keyed join only."""
    df = spandedup.span_dedup_removal(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan  # hashes, never gram text, shuffle


def test_span_rollup_consistent_with_perdoc(spark, sf_dir):
    per = spandedup.span_dedup_removal(spark, sf_dir).collect()
    roll = spandedup.span_dedup_rollup(spark, sf_dir).collect()[0]
    assert roll["n_docs"] == len(per)
    assert roll["total_tokens"] == sum(r["n_tokens"] for r in per)
    assert roll["removed_tokens"] == sum(
        r["n_removed_tokens"] for r in per)
    assert roll["removed_runs"] == sum(
        r["n_removed_runs"] for r in per)
    assert roll["n_docs_trimmed"] == sum(
        r["n_removed_tokens"] > 0 for r in per)


# ---------------------------------------------------------------------------
# broadcast-vocab BPE tokenizer (round 10)
# ---------------------------------------------------------------------------

from gcp_datalake_utils_spark.llm import bpe  # noqa: E402


def _naive_train(wc: dict[str, int], n_merges: int):
    """Recount-every-iteration reference trainer: same contract
    (max count, smallest pair, merge-all-occurrences), none of the
    incremental bookkeeping — the independent check of train_merges."""
    words = {w: list(w) for w in wc if w}
    merges = []
    while len(merges) < n_merges:
        counts = Counter()
        for w, syms in words.items():
            for p in zip(syms, syms[1:]):
                counts[p] += wc[w]
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < 2:
            break
        merges.append(best)
        for w, syms in words.items():
            words[w] = bpe._merge_all(syms, *best)
    return merges


def test_bpe_trainer_matches_naive_replay(spark, sf_dir):
    wc = bpe.budgeted_word_counts(spark, sf_dir)
    assert bpe.train_merges(wc, 24) == _naive_train(wc, 24)
    # and at a budget past this corpus's saturation point
    assert bpe.train_merges(wc, 500) == _naive_train(wc, 500)


def test_bpe_encode_roundtrip_and_bounds(spark, sf_dir):
    wc = bpe.budgeted_word_counts(spark, sf_dir)
    ranks = {p: i for i, p in enumerate(bpe.train_merges(wc))}
    cache: dict = {}
    for w in wc:
        toks = bpe.encode_word(w, ranks, cache)
        assert "".join(toks) == w          # lossless
        assert 1 <= len(toks) <= len(w)    # bounded both ways


def test_bpe_token_stats_matches_driver_replica(spark, sf_dir):
    got = {r["doc_id"]: r
           for r in bpe.bpe_token_stats(spark, sf_dir).collect()}
    ranks = {p: i for i, p in
             enumerate(bpe.trained_merges(spark, sf_dir))}
    cache: dict = {}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    assert len(got) == len(docs)
    saw_compression = False
    for d in docs:
        ws = d["text"].strip().split()
        n_bpe = sum(len(bpe.encode_word(w, ranks, cache)) for w in ws)
        g = got[d["doc_id"]]
        assert g["n_ws_tokens"] == len(ws)
        assert g["n_bpe_tokens"] == n_bpe
        assert g["bpe_per_word"] == round(n_bpe / len(ws), 6)
        saw_compression |= n_bpe < sum(len(w) for w in ws)
    assert saw_compression  # merges genuinely fired


def test_bpe_word_budget_binds_by_construction(spark, tmp_path):
    """A corpus with more distinct words than the budget: the
    histogram walk must pick a threshold that keeps the collected
    model under budget while keeping the heaviest words."""
    rows = [(i, " ".join(f"w{j}" for j in range(i % 7 + 1))
             + " common common common") for i in range(50)]
    loc = str(tmp_path / "bpecorpus")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{loc}/documents.parquet")
    old = bpe.BPE_TRAIN_MAX_WORDS
    bpe.BPE_TRAIN_MAX_WORDS = 3
    try:
        wc = bpe.budgeted_word_counts(spark, loc)
        assert len(wc) <= 3
        assert "common" in wc  # heaviest word survives the cut
    finally:
        bpe.BPE_TRAIN_MAX_WORDS = old


def test_sequence_packing_bpe_real_self_consistent(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import packing
    rows = packing.sequence_packing_bpe_real(spark, sf_dir).collect()
    assert rows
    # offsets are the running sum of this row set's own counts, and
    # pack ids follow the documented arithmetic
    by_bucket: dict = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["doc_id"],
                                         r["chunk_idx"])):
        off = by_bucket.get(r["bucket"], 0)
        assert r["start_offset"] == off
        assert r["pack_local"] == off // packing.PACK_BUDGET
        assert r["pack_id"] == (r["bucket"] * 1_000_000_000
                                + r["pack_local"])
        by_bucket[r["bucket"]] = off + r["n_bpe_tokens"]


# ---------------------------------------------------------------------------
# DPP unpruned control (round 10 book-close)
# ---------------------------------------------------------------------------


def test_events_dpp_unpruned_control_scans_everything(spark, sf_dir):
    """The control must NOT plan dynamic pruning (that is its job) and
    must return exactly the pruned query's rows."""
    from gcp_datalake_utils_spark.sources import partitioned

    pruned = {tuple(r) for r in
              partitioned.events_dpp_join(spark, sf_dir).collect()}
    ctrl_df = partitioned.events_dpp_join_unpruned(spark, sf_dir)
    ctrl = {tuple(r) for r in ctrl_df.collect()}
    assert ctrl == pruned
    plan = ctrl_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" not in plan


# --- ANN past-clamp band plan (r9 verdict ask #3) ------------------------

def test_banded_candidates_past_clamp_recall(spark, sf_dir):
    """Drive the shared banded generator at a FORCED past-clamp plan
    (bits=18, bands=12 — the n~10M operating point) on a small corpus
    with planted near-identical duplicates: every planted pair must
    appear among the candidates (a ~cosine-1 pair agrees on every
    plane sign up to rounding noise, so it collides in every band),
    and the full operator must keep them through the exact verify."""
    from pyspark.sql import functions as F

    from gcp_datalake_utils_spark.llm import similarity

    e = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .select("vec_id", "label", "embedding"))
    base = e.orderBy("vec_id").limit(25).collect()
    max_id = e.agg(F.max("vec_id")).collect()[0][0]
    planted = spark.createDataFrame(
        [(int(max_id + 1 + i), r["label"],
          [float(x) + 1e-6 * ((i + j) % 3 - 1)
           for j, x in enumerate(r["embedding"])])
         for i, r in enumerate(base)],
        "vec_id long, label int, embedding array<float>")
    corpus = e.unionByName(planted).localCheckpoint()

    cand = {(r["vec_a"], r["vec_b"]) for r in
            similarity._banded_candidates(corpus, 18, 12).collect()}
    for i, r in enumerate(base):
        assert (r["vec_id"], max_id + 1 + i) in cand, \
            f"planted pair for vec {r['vec_id']} lost at bits=18"


# --- stream -> store wiring (r9 verdict ask #4) ---------------------------

def test_store_append_is_pure_partition_append(spark, sf_dir):
    """The cut is a date boundary, so batch half and streamed tail own
    disjoint day partitions: post-append rows are unique per
    (user, day), the post-append store equals the CDC full recompute,
    and the appended table still plans per-user aggs with no
    user_id Exchange (the bucket spec survived the append)."""
    from pyspark.sql import functions as F

    from gcp_datalake_utils_spark.operators import cohort
    from gcp_datalake_utils_spark.streaming import windows as sw

    t = sw.daily_activity_store_append(spark, sf_dir)
    store = spark.table(t)
    n = store.count()
    assert store.select("user_id", "day").distinct().count() == n

    got = {tuple(r) for r in
           store.select("user_id",
                        F.date_format("day", "yyyy-MM-dd").alias("day"),
                        "first_type", "last_type",
                        F.col("n_events").cast("long")).collect()}
    exp = {tuple(r) for r in
           cohort.daily_activity_cdc(spark, sf_dir).collect()}
    assert got == exp and len(got) > 0

    agg = store.groupBy("user_id").agg(F.sum("n_events").alias("s"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning(user_id" not in plan


# --- incremental embedding admission (round 10) ---------------------------

def test_embedding_incremental_dedup_planted_and_shape(spark, sf_dir):
    """A batch vector that near-duplicates a corpus vector must be
    flagged with that corpus vector as its match; batch-only and
    corpus-only vectors stay clean; output covers exactly the batch
    slice; and the probe join BROADCASTS the batch signature side."""
    from pyspark.sql import functions as F

    from gcp_datalake_utils_spark.llm import similarity

    e = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .select("vec_id", "label", "embedding"))
    # pick a CORPUS vector (id % 10 != 0) and plant a batch
    # near-duplicate of it at a fresh id ending in 0
    src = e.where(F.col("vec_id") % 10 == 1).orderBy("vec_id").first()
    max_id = e.agg(F.max("vec_id")).collect()[0][0]
    new_id = int((max_id // 10 + 1) * 10)  # % 10 == 0 -> batch slice
    planted = spark.createDataFrame(
        [(new_id, src["label"],
          [float(x) + 1e-6 for x in src["embedding"]])],
        "vec_id long, label int, embedding array<float>")
    corpus = e.unionByName(planted).localCheckpoint()

    import gcp_datalake_utils_spark.sources as srcmod
    orig = srcmod.load_table
    try:
        srcmod.load_table = lambda s, d, name: (
            corpus if name == "embeddings" else orig(s, d, name))
        similarity.load_table = srcmod.load_table
        similarity._SIG_STORE.clear()  # cache keys ignore the patch
        out = similarity.embedding_incremental_dedup(spark, sf_dir)
        rows = {r["vec_id"]: r for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        srcmod.load_table = orig
        similarity.load_table = orig
        similarity._SIG_STORE.clear()

    n_batch = corpus.where(F.col("vec_id") % 10 == 0).count()
    assert len(rows) == n_batch
    hit = rows[new_id]
    assert hit["is_dup"] and hit["match_vec"] == src["vec_id"]
    assert hit["cosine"] >= 0.95
    assert "BroadcastExchange" in plan


# --- benchmark-span scrubbing (round 10) -----------------------------------

def _scrub_replay(docs: list[tuple[int, str]],
                  mod: int) -> dict[int, dict]:
    """Driver replay of the scrub semantics: gram STRINGS of the
    bench slice (doc_id % mod == 0) mark covered corpus words."""
    toks = {i: re.split(r"\s+", t.strip()) for i, t in docs}
    bench_grams = set()
    for doc_id, ws in toks.items():
        if doc_id % mod == 0:
            bench_grams.update(" ".join(ws[i:i + NGRAM])
                               for i in range(len(ws) - NGRAM + 1))
    out = {}
    for doc_id, ws in toks.items():
        if doc_id % mod == 0:
            continue
        n = len(ws)
        covered = [False] * n
        for i in range(n - NGRAM + 1):
            if " ".join(ws[i:i + NGRAM]) in bench_grams:
                for j in range(i, i + NGRAM):
                    covered[j] = True
        runs = sum(1 for j in range(n)
                   if covered[j] and (j == 0 or not covered[j - 1]))
        kept = " ".join(w for w, c in zip(ws, covered) if not c)
        out[doc_id] = {
            "n_tokens": n,
            "n_removed_tokens": sum(covered),
            "n_removed_runs": runs,
            "kept_text_md5": hashlib.md5(kept.encode()).hexdigest(),
        }
    return out


def test_contamination_scrub_matches_replay(spark, sf_dir):
    from gcp_datalake_utils_spark.llm.decontam import BENCH_MOD

    got = {r["doc_id"]: r for r in
           spandedup.contamination_span_scrub(spark, sf_dir).collect()}
    docs = [(r["doc_id"], r["text"])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()]
    want = _scrub_replay(docs, BENCH_MOD)
    assert set(got) == set(want)          # bench docs excluded
    for doc_id, w in want.items():
        for k in w:
            assert got[doc_id][k] == w[k], (doc_id, k)


def test_contamination_scrub_crafted_semantics(spark, tmp_path):
    """The distinction that makes scrub scrub: corpus-INTERNAL
    duplication is NOT removed (that is span_dedup_removal's job);
    only spans present in the bench slice are cut."""
    span = "a b c d e f"  # 6 bench words -> 2 overlapping 5-grams
    docs = [
        (0, "x0 " + span + " y0"),              # bench (0 % 50 == 0)
        (1, "p1 p2 " + span + " q1 q2"),        # hit at offset 2
        (2, span + " r1 r2 r3"),                # hit at offset 0
        # corpus-internal duplicate pair, absent from bench -> kept
        (3, "m1 m2 m3 m4 m5 m6 m7"),
        (4, "m1 m2 m3 m4 m5 m6 m7"),
        (5, "just four small words"),           # sub-gram length
    ]
    loc = str(tmp_path / "scrub")
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(f"{loc}/documents.parquet")
    got = {r["doc_id"]: r for r in
           spandedup.contamination_span_scrub(spark, loc).collect()}
    assert set(got) == {1, 2, 3, 4, 5}     # bench doc 0 not emitted
    assert got[1]["n_removed_tokens"] == 6
    assert got[1]["n_removed_runs"] == 1
    assert got[2]["n_removed_tokens"] == 6
    # internal dup untouched by the SCRUB (span_dedup_removal would
    # cut it -- pin the contrast on the same corpus)
    assert got[3]["n_removed_tokens"] == 0
    assert got[4]["n_removed_tokens"] == 0
    assert got[5]["n_removed_tokens"] == 0
    dedup_got = {r["doc_id"]: r for r in
                 spandedup.span_dedup_removal(spark, loc).collect()}
    assert dedup_got[3]["n_removed_tokens"] == 7
    assert dedup_got[4]["n_removed_tokens"] == 7


def test_contamination_scrub_plan_shape(spark, sf_dir):
    """Bench gram set probes via BROADCAST; no all-pairs anywhere."""
    df = spandedup.contamination_span_scrub(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


# --- distribution-matching selection (round 10) ----------------------------

def _py_bucket(word: str, n: int) -> int:
    return int(hashlib.md5(word.encode()).hexdigest()[:2], 16) % n


def _nb_replica(docs):
    """Driver NB replica: same split, smoothing, rounding, tie-break."""
    import math

    from gcp_datalake_utils_spark.llm.distmatch import NB_BUCKETS

    train = [(i, l, t) for i, l, t in docs if i % 2 == 0]
    test = [(i, l, t) for i, l, t in docs if i % 2 == 1]
    nd = Counter(l for _, l, _ in train)
    n_train = sum(nd.values())
    cnt: Counter = Counter()
    tot: Counter = Counter()
    for _, l, t in train:
        for w in re.split(r"\s+", t.strip()):
            cnt[(l, _py_bucket(w, NB_BUCKETS))] += 1
            tot[l] += 1
    out = {}
    for i, actual, t in test:
        bs = Counter(_py_bucket(w, NB_BUCKETS)
                     for w in re.split(r"\s+", t.strip()))
        best = None
        for c in sorted(nd):
            s = math.log(nd[c] / n_train)
            for b, n in bs.items():
                s += n * math.log((cnt[(c, b)] + 1)
                                  / (tot[c] + NB_BUCKETS))
            r = round(s, 6)
            if best is None or r > best[0]:
                best = (r, c)
        out[i] = {"lang": actual, "pred_lang": best[1],
                  "best_score": best[0]}
    return out


def test_nb_classifier_matches_replica(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import distmatch

    got = {r["doc_id"]: r for r in
           distmatch.nb_lang_classifier(spark, sf_dir).collect()}
    docs = [(r["doc_id"], r["lang"], r["text"])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "lang", "text").collect()]
    want = _nb_replica(docs)
    assert set(got) == set(want)
    for i, w in want.items():
        assert got[i]["pred_lang"] == w["pred_lang"], i
        assert abs(got[i]["best_score"] - w["best_score"]) < 2e-6
        assert got[i]["correct"] == (w["pred_lang"] == w["lang"])


def test_nb_classifier_separable_corpus(spark, tmp_path):
    """Disjoint vocabularies per class -> perfect held-out accuracy."""
    from gcp_datalake_utils_spark.llm import distmatch

    docs = []
    for i in range(80):
        lang = "aa" if i % 4 < 2 else "bb"
        vocab = (["alpha", "beta", "gamma", "delta"] if lang == "aa"
                 else ["omega", "sigma", "theta", "kappa"])
        text = " ".join(vocab[(i + j) % 4] for j in range(12))
        docs.append((i, text, lang, "src0", len(text)))
    loc = str(tmp_path / "nb")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.parquet(f"{loc}/documents.parquet")
    out = distmatch.nb_lang_classifier(spark, loc).collect()
    assert len(out) == 40
    assert all(r["correct"] for r in out)


def _dsir_replica(docs):
    import math

    from gcp_datalake_utils_spark.llm.distmatch import (
        DSIR_BUCKETS, DSIR_TARGET_LANG, DSIR_TOP_K)

    raw: Counter = Counter()
    tgt: Counter = Counter()
    words = {}
    for i, l, t in docs:
        ws = [_py_bucket(w, DSIR_BUCKETS)
              for w in re.split(r"\s+", t.strip())]
        words[i] = (l, ws)
        raw.update(ws)
        if l == DSIR_TARGET_LANG:
            tgt.update(ws)
    tr, tt = sum(raw.values()), sum(tgt.values())
    lam = {b: (math.log((tgt[b] + 1) / (tt + DSIR_BUCKETS))
               - math.log((raw[b] + 1) / (tr + DSIR_BUCKETS)))
           for b in range(DSIR_BUCKETS)}
    per = [(i, l, len(ws), round(sum(lam[b] for b in ws), 6))
           for i, (l, ws) in words.items()]
    per.sort(key=lambda r: (-r[3], r[0]))
    return per[:DSIR_TOP_K]


def test_dsir_matches_replica(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import distmatch

    got = distmatch.dsir_importance_weights(spark, sf_dir).collect()
    docs = [(r["doc_id"], r["lang"], r["text"])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "lang", "text").collect()]
    want = _dsir_replica(docs)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["doc_id"] == w[0] and g["lang"] == w[1]
        assert g["n_words"] == w[2]
        assert abs(g["log_weight"] - w[3]) < 2e-6


def test_dsir_pulls_target_like_docs(spark, tmp_path):
    """Docs written in the target slice's vocabulary must outrank
    docs written in a disjoint vocabulary."""
    from gcp_datalake_utils_spark.llm import distmatch

    docs = []
    for i in range(60):
        if i % 3 == 0:
            lang, vocab = "en", ["tea", "cup", "pot", "jar"]
        elif i % 3 == 1:
            lang, vocab = "zz", ["tea", "cup", "pot", "jar"]  # en-like
        else:
            lang, vocab = "zz", ["rock", "iron", "sand", "clay"]
        text = " ".join(vocab[(i + j) % 4] for j in range(10))
        docs.append((i, text, lang, "src0", len(text)))
    loc = str(tmp_path / "dsir")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.parquet(f"{loc}/documents.parquet")
    out = distmatch.dsir_importance_weights(spark, loc).collect()
    by_id = {r["doc_id"]: r["log_weight"] for r in out}
    enlike = [by_id[i] for i in range(60) if i % 3 == 1]
    far = [by_id[i] for i in range(60) if i % 3 == 2]
    assert min(enlike) > max(far)


def test_dsir_and_nb_plan_shapes(spark, sf_dir):
    """Models broadcast; the DSIR top-K is a TakeOrdered, not a
    global sort Exchange."""
    from gcp_datalake_utils_spark.llm import distmatch

    d = distmatch.dsir_importance_weights(spark, sf_dir)
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    n = distmatch.nb_lang_classifier(spark, sf_dir)
    nplan = n._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in nplan
    assert "CartesianProduct" not in nplan


def test_session_cache_bounded_lru():
    """r9 verdict 'What's wrong #5': session-keyed store caches must
    evict — a long-lived host never accumulates dead-session keys."""
    from gcp_datalake_utils_spark.session import SessionCache

    c = SessionCache(maxsize=3)
    for i in range(5):
        c.put(("s", i), i)
    assert ("s", 0) not in c and ("s", 1) not in c
    assert c.get(("s", 2)) == 2
    c.put(("s", 5), 5)          # evicts ("s", 3): 2 was touched
    assert ("s", 3) not in c and c.get(("s", 2)) == 2


# --- deterministic training-shard shuffle (round 10) -----------------------

def test_training_shard_shuffle_semantics(spark, sf_dir):
    """Total coverage, per-shard contiguous 1..k positions,
    reproducibility, and the replica hash order."""
    from gcp_datalake_utils_spark.llm import sampling as sm

    rows = sm.training_shard_shuffle(spark, sf_dir).collect()
    n_docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .count())
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert 0 <= shard < sm.N_SHARDS
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard

    # replica: same hash, same order
    def h(doc_id):
        return int(hashlib.md5(
            f"{doc_id}:{sm.SHUFFLE_SEED}".encode()).hexdigest()[:8], 16)

    got = {(r["doc_id"]): (r["shard"], r["pos"]) for r in rows}
    per_shard: dict[int, list] = {}
    for doc_id in got:
        per_shard.setdefault(h(doc_id) % sm.N_SHARDS, []).append(doc_id)
    for shard, ids in per_shard.items():
        ids.sort(key=lambda d: (h(d), d))
        for pos, d in enumerate(ids, 1):
            assert got[d] == (shard, pos), (d, shard, pos)

    # reproducible run-to-run
    again = {(r["doc_id"]): (r["shard"], r["pos"]) for r in
             sm.training_shard_shuffle(spark, sf_dir).collect()}
    assert again == got


def test_training_shard_shuffle_plan_no_global_sort(spark, sf_dir):
    """One hash Exchange on the shard key; never a range/global sort."""
    from gcp_datalake_utils_spark.llm import sampling as sm

    df = sm.training_shard_shuffle(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert plan.lower().count("exchange hashpartitioning") == 1


def test_contamination_scrub_rollup_consistent(spark, sf_dir):
    per = spandedup.contamination_span_scrub(spark, sf_dir).collect()
    roll = spandedup.contamination_scrub_rollup(
        spark, sf_dir).collect()[0]
    assert roll["n_docs"] == len(per)
    assert roll["total_tokens"] == sum(r["n_tokens"] for r in per)
    assert roll["removed_tokens"] == sum(
        r["n_removed_tokens"] for r in per)
    assert roll["removed_runs"] == sum(
        r["n_removed_runs"] for r in per)
    assert roll["n_docs_scrubbed"] == sum(
        r["n_removed_tokens"] > 0 for r in per)
