"""LLM-pipeline extension operators: dedup, similarity, text,
multimodal, streaming."""

from __future__ import annotations

import pytest

from gcp_datalake_utils_spark.llm import dedup, multimodal, similarity, text


def test_minhash_signature_shape(spark, sf_dir):
    row = dedup.minhash_signatures(spark, sf_dir).limit(1).collect()[0]
    hashes = [row[f"mh_{k}"] for k in range(dedup.K_MINHASH)]
    assert all(h and len(h) == 32 for h in hashes)
    assert len(set(hashes)) > 1, "seeds must differ"


def test_near_dup_pairs_are_verified(spark, sf_dir):
    pairs = dedup.near_dup_pairs(spark, sf_dir).collect()
    assert all(p.jaccard >= dedup.JACCARD_THRESHOLD for p in pairs)
    assert all(p.doc_a < p.doc_b for p in pairs)


def test_simhash_close_for_near_dups(spark, sf_dir):
    pairs = dedup.near_dup_pairs(spark, sf_dir).collect()
    if not pairs:
        pytest.skip("no near-dups at this sf")
    sh = {r.doc_id: r.simhash16
          for r in dedup.simhash(spark, sf_dir).collect()}
    a, b = pairs[0].doc_a, pairs[0].doc_b
    ham = bin(sh[a] ^ sh[b]).count("1")
    assert ham <= 6, f"near-dup pair hamming {ham} too far"


def test_cosine_topk_ordering(spark, sf_dir):
    rows = similarity.cosine_topk(spark, sf_dir).collect()
    assert len(rows) == similarity.TOP_K
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_ivf_subset_of_bruteforce_scores(spark, sf_dir):
    brute = {r.vec_id: r.cosine
             for r in similarity.cosine_topk(spark, sf_dir).collect()}
    ivf = similarity.ivf_topk(spark, sf_dir).collect()
    for r in ivf:
        if r.vec_id in brute:
            assert abs(brute[r.vec_id] - r.cosine) < 1e-9


def test_token_stats_sane(spark, sf_dir):
    rows = text.token_stats(spark, sf_dir).collect()
    assert all(r.n_tokens > 0 for r in rows)
    assert all(0.0 <= r.stopword_ratio <= 1.0 for r in rows)


def test_language_id_deterministic_tiebreak(spark, sf_dir):
    rows = text.language_id(spark, sf_dir).collect()
    assert all(r.predicted_lang in text.LANG_MARKERS for r in rows)


def test_multimodal_features_roundtrip(spark, sf_dir):
    feats = {r.asset_id: r
             for r in multimodal.media_features(spark, sf_dir).collect()}
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    for doc_id, t in list(docs.items())[:10]:
        f = feats[doc_id]
        assert f.byte_len == len(t.encode())
        assert f.first_byte == t.encode()[0]


def test_decode_media_is_explicit_stub(spark, sf_dir):
    assets = multimodal.binary_assets(spark, sf_dir)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(assets)


def test_shingles_short_docs_empty(spark):
    """Docs with <3 words must produce an empty shingle array (matching
    the DuckDB oracle's empty range), not an element_at error."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [("a",), ("a b",), ("a b c",), ("",), ("a b c d",)], ["text"])
    rows = (df.select(dedup._words().alias("ws"))
            .select(dedup._shingles_of("ws").alias("sh")).collect())
    assert [r.sh for r in rows] == [
        [], [], ["a b c"], [], ["a b c", "b c d"]]


def test_rp_lsh_candidates_within_probe_distance(spark, sf_dir):
    """Every LSH ANN candidate must share the query PROBE bucket (the
    low RP_PROBE_BITS of the signature) up to hamming distance 1 (the
    multi-probe radius), and ranks must follow cosine."""
    from pyspark.sql import functions as F
    mask = (1 << similarity.RP_PROBE_BITS) - 1
    e = (similarity.load_table(spark, sf_dir, "embeddings")
         .withColumn("bucket", similarity._bucket_spark("embedding")))
    q_bucket = e.where(
        F.col("vec_id") == similarity.QUERY_VEC_ID).collect()[0].bucket
    buckets = {r.vec_id: r.bucket for r in e.collect()}
    rows = similarity.rp_lsh_topk(spark, sf_dir).collect()
    assert rows, "query probe bucket should contain at least one neighbor"
    for r in rows:
        ham = bin((buckets[r.vec_id] & mask) ^ (q_bucket & mask)) \
            .count("1")
        assert ham <= 1, f"vec {r.vec_id} at hamming {ham}"
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_rp_lsh_plan_is_broadcast_equijoin(spark, sf_dir):
    plan = similarity.rp_lsh_topk(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_embedding_near_dups_banded_parity(spark, tmp_path):
    """On a corpus WITH planted near-dups (the shipped testdata has
    none), the banded Spark plan and its DuckDB oracle must agree
    row-for-row, clones must be found (equal vectors share every band),
    and every reported pair must truly be >= 0.95."""
    import random
    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)
    rng = random.Random(7)
    vecs = {i: [rng.gauss(0, 1) for _ in range(similarity.N_DIMS)]
            for i in range(10)}
    vecs[10] = list(vecs[1])                       # exact clone of 1
    vecs[11] = [x + rng.gauss(0, 0.01) for x in vecs[2]]  # near clone
    # clones must share their source's label: 10 pairs with 1, 11 with 2
    labels = {10: 1 % 3, 11: 2 % 3}
    rows = [(i, [float(x) for x in v], labels.get(i, i % 3))
            for i, v in vecs.items()]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType())])
    path = str(tmp_path)
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
    got = {(r.vec_a, r.vec_b): r.cosine
           for r in similarity.embedding_near_dups(spark, path).collect()}
    assert (1, 10) in got and abs(got[(1, 10)] - 1.0) < 1e-6
    assert (2, 11) in got and got[(2, 11)] >= 0.95
    assert all(c >= 0.95 for c in got.values())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}/embeddings.parquet/*.parquet')")
    oracle = {(a, b): c for a, b, _, c in con.execute(
        similarity.EMBEDDING_NEAR_DUP_ORACLE).fetchall()}
    assert set(got) == set(oracle)
    assert all(abs(got[k] - oracle[k]) < 1e-6 for k in got)


def test_embedding_near_dups_plan_banded_join(spark, sf_dir):
    """The candidate join must key on (label, band, key) — never a
    label-only join (r2's latent O(cell^2)) and never a cross join."""
    plan = similarity.embedding_near_dups(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "band" in plan and "key" in plan


def test_kmeans_assign_properties(spark, sf_dir):
    rows = similarity.kmeans_assign(spark, sf_dir).collect()
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(similarity.N_CLUSTERS))
    by_id = {r.vec_id: r for r in rows}
    for seed_id in range(similarity.N_CLUSTERS):
        r = by_id[seed_id]
        assert r.cluster == seed_id and abs(r.cosine - 1.0) < 1e-6, \
            "seed must land in its own cluster"


def test_corpus_curation_reasons(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import curation
    rows = curation.curate(spark, sf_dir).collect()
    assert {r.reason for r in rows} <= {"dup", "quality", "lang", "kept"}
    for r in rows:
        assert r.keep == (r.reason == "kept")
        if r.reason == "dup":
            assert r.canonical_id < r.doc_id
    assert any(r.keep for r in rows)


def test_train_val_split_stable_and_balanced(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import curation
    rows = curation.train_val_split(spark, sf_dir).collect()
    frac = {s: sum(1 for r in rows if r.split == s) / len(rows)
            for s in ("train", "val", "test")}
    assert 0.7 < frac["train"] < 0.9
    assert 0.03 < frac["val"] < 0.2
    assert 0.03 < frac["test"] < 0.2
    again = {r.doc_id: r.split
             for r in curation.train_val_split(spark, sf_dir).collect()}
    assert all(again[r.doc_id] == r.split for r in rows), "must be stable"


def test_dedup_groups_match_union_find(spark, sf_dir):
    """Component labels must equal a driver-side union-find over the
    same verified pair set (transitive closure, min-id canonical)."""
    pairs = [(p.doc_a, p.doc_b)
             for p in dedup.near_dup_pairs(spark, sf_dir).collect()]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}
    got = {r.doc_id: r.group_id
           for r in dedup.dedup_groups(spark, sf_dir).collect()}
    assert got == expected
    sizes = {}
    for g in expected.values():
        sizes[g] = sizes.get(g, 0) + 1
    for r in dedup.dedup_groups(spark, sf_dir).collect():
        assert r.group_size == sizes[r.group_id]
        assert r.is_canonical == (r.doc_id == r.group_id)


def test_doc_chunks_cover_whole_doc(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import chunks as ch
    docs = {r.doc_id: len(r.text.strip().split(" "))
            for r in spark.read.parquet(
                f"{sf_dir}/documents.parquet").collect()}
    by_doc: dict[int, list] = {}
    for r in ch.doc_chunks(spark, sf_dir).collect():
        assert 1 <= r.n_chunk_tokens <= ch.CHUNK_TOKENS
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        last = rows[-1]
        # the final window reaches the end of the document
        assert (last.chunk_idx * ch.CHUNK_STRIDE
                + last.n_chunk_tokens) == docs[doc_id]


def test_pmi_collocations_invariants(spark, sf_dir):
    """Pair symmetry by construction (term_a < term_b), dense ranks,
    co-doc count never exceeds either term's doc frequency."""
    from gcp_datalake_utils_spark.llm import collocations
    rows = sorted(collocations.pmi_collocations(spark, sf_dir).collect(),
                  key=lambda r: r.rank)
    assert rows and len(rows) <= collocations.COLLOC_TOP_K
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.term_a < r.term_b
        assert r.n_docs_both <= min(r.df_a, r.df_b)


def test_pmi_gram_kernel_matches_bruteforce():
    """The Arrow Gram kernel's pair counts must equal brute-force
    within-doc pair enumeration for random index sets — including
    multi-batch accumulation and empty batches."""
    import itertools
    import random
    from collections import Counter

    import pandas as pd

    from gcp_datalake_utils_spark.llm import collocations as co

    rng = random.Random(7)
    docs = [sorted(rng.sample(range(co.COLLOC_VOCAB),
                              rng.randint(2, co.COLLOC_VOCAB)))
            for _ in range(200)]
    expected = Counter()
    for idx in docs:
        for i, j in itertools.combinations(idx, 2):
            expected[(i, j)] += 1
    # split into uneven batches with one empty frame in the middle
    batches = [pd.DataFrame({"idx": docs[:37]}),
               pd.DataFrame({"idx": []}),
               pd.DataFrame({"idx": docs[37:]})]
    got = Counter()
    for out in co._gram_counts(iter(batches)):
        for r in out.itertuples(index=False):
            got[(r.i, r.j)] += int(r.c)
    assert got == expected
