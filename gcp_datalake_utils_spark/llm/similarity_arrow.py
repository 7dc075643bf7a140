"""Arrow-vectorized brute-force cosine top-k (the Pandas-UDF scale
path).

`similarity.cosine_topk` evaluates the dot product as a JVM
higher-order-function fold — the r3 plan audit showed that shape is
already optimal (TakeOrderedAndProject, no shuffle of the corpus) but
the per-element fold is interpreted expression eval, ~10x slower than
a vectorized kernel at sf1. This module is the documented answer when
that constant factor matters: score each Arrow batch with one numpy
matrix-vector product inside ``mapInPandas``, keep everything else
(filter, global top-k, rank) identical.

Why this is the right 100 TB shape:
- the kernel is embarrassingly parallel and allocation-free per batch
  (one ``stack``, one GEMV); Arrow moves columns, not rows;
- the scored stream still feeds ``orderBy().limit(k)`` =
  TakeOrderedAndProject — each partition ships only its local top-k;
- the query vector rides in as a closure constant (one row collected
  driver-side — it IS the query parameter), never a join.

The score is rounded to 6 before ranking, so numpy's pairwise
summation and the JVM/DuckDB sequential folds agree — the same
cross-engine tolerance contract every float in the repo uses.
Oracle: identical to cosine_topk (same result by construction).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm.similarity import (
    KMEANS_ITERS,
    QUERY_VEC_ID,
    _assign_clusters,
    _seed_centroids,
    _topk_ranked,
)
from gcp_datalake_utils_spark.sources import load_table, local_frame

_SCHEMA = "vec_id long, label int, cosine double"


def cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] brute-force cosine top-k, numpy-scored per Arrow batch."""
    e = load_table(spark, sf_dir, "embeddings")
    q = np.asarray(
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding").first()[0], dtype=np.float64)
    qn = float(np.sqrt(q @ q))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cos = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "label": pdf["label"].astype("int32"),
                "cosine": np.round(cos, 6),
            })

    scored = (e.where(F.col("vec_id") != QUERY_VEC_ID)
              .select("vec_id", "label", "embedding")
              .mapInPandas(score, _SCHEMA))
    return _topk_ranked(scored)


# --- retrieve -> rerank (two-stage ANN, Arrow second stage) ------------

RERANK_K = 3


def ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] two-stage retrieval: the multi-probe ANN supplies candidates
    (batch_ann_topk, K per query), a second-stage scorer re-ranks them
    and keeps the best RERANK_K — the retrieve->rerank shape every
    production semantic-search pipeline runs, where stage 2 is an
    expensive cross-encoder.

    The stage-2 scorer here is a deterministic stand-in with the same
    cost profile slot: weighted Jaccard over squared components,
    sum(min(q_i^2, e_i^2)) / sum(max(q_i^2, e_i^2)) — non-linear in
    both vectors (not recoverable from the stage-1 cosine) and exactly
    mirrorable in SQL, so the whole two-stage result stays
    hash-oracled. It runs as one numpy pass per Arrow batch via
    ``mapInPandas``.

    Scale shape: stage 2 touches only |queries| x K candidate rows —
    the vector gather is an equi-join on vec_id against the (huge)
    embedding table, hash-partitioned on the id; the rerank window is
    K-rows-per-query sized. Corpus cost lives entirely in stage 1.
    """
    from gcp_datalake_utils_spark.llm.similarity import batch_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    cand = batch_ann_topk(spark, sf_dir).select("query_id", "vec_id")
    qvecs = (e.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_embedding")))
    gathered = (cand
                .join(e.select("vec_id", "embedding"), "vec_id")
                .join(qvecs, "query_id")
                .select("query_id", "vec_id", "embedding",
                        "q_embedding"))

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            em = np.stack(pdf["embedding"].to_numpy()) \
                .astype(np.float64) ** 2
            qm = np.stack(pdf["q_embedding"].to_numpy()) \
                .astype(np.float64) ** 2
            score = (np.minimum(em, qm).sum(axis=1)
                     / np.maximum(em, qm).sum(axis=1))
            yield pd.DataFrame({
                "query_id": pdf["query_id"].astype("int64"),
                "vec_id": pdf["vec_id"].astype("int64"),
                "rerank_score": np.round(score, 6),
            })

    scored = gathered.mapInPandas(
        rerank, "query_id long, vec_id long, rerank_score double")
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= RERANK_K)
            .select("query_id", "vec_id", "rerank_score",
                    F.col("rank").cast("int").alias("rank")))


# --- Arrow Lloyd's k-means (driver-coordinated iterations) ------------


def kmeans_iterate_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] Lloyd's k-means, KMEANS_ITERATE_ORACLE: KMEANS_ITERS
    assignment + update rounds from the `_seed_centroids` seeds, then
    a final assignment — the iterative-algorithm pattern the IVF
    coarse quantizer trains with.

    Each assignment is one `_assign_clusters` Arrow pass, which passes
    ``embedding`` through, so the M-step (`_centroid_table_arrow`)
    reads the assigned corpus directly: no join back on vec_id, no
    K-row fan-out, no argmax shuffle. Each round's centroids are
    COLLECTED to the driver (K x D floats — model state, not data)
    and re-enter as a closure constant, so no iteration re-executes
    inside a later one's plan.

    The M-step runs through `_centroid_partials` — exact integer
    component sums per partition, bit-identical to the `_davg6`
    decimal mean of the oracle including HALF_UP on representable
    ties (the suspect-band Decimal fix-up)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _seed_centroids(e)
    for _ in range(KMEANS_ITERS):
        cents = _centroid_table_arrow(_assign_clusters(e, cents),
                                      "cluster").collect()
    return _assign_clusters(e, cents).drop("embedding")


# --- Arrow centroid partial sums (k-means M-step, label centroids) ----


def _centroid_partials(df: DataFrame, key_col: str) -> DataFrame:
    """Per-partition component sums for exact-decimal centroids:
    (key, dim, s, cnt) where s = sum over the partition's vectors of
    round(v, 7) x 10^7 as an exact integer — the same quantity the
    JVM `_davg6` accumulates as DECIMAL(18,7), so the downstream mean
    is bit-identical.

    Exact HALF_UP-at-7 without per-element Python: rint(v * 1e7) is
    the true rounding whenever v*1e7 is not near a .5 boundary; the
    float multiply's error (<= 1 ulp ~ 1e-9 at this magnitude) can
    only flip a result inside a |frac - 0.5| < 1e-4 suspect band,
    and those rare elements are re-rounded through the exact
    shortest-decimal path (Decimal(repr(v))). Integer-valued float64
    accumulation stays exact far beyond these row counts (< 2^53).

    Why this exists: the JVM posexplode + per-element decimal
    round/cast M-step measured 10-15 s solo at sf10 (12.8M exploded
    rows); this kernel's shuffle payload is |keys| x dims rows per
    partition and the arithmetic is three vectorized ops."""
    from decimal import ROUND_HALF_UP, Decimal

    q7 = Decimal("0.0000001")

    def partials(batches):
        sums: dict = {}
        for pdf in batches:
            for key, grp in pdf.groupby(key_col):
                m = np.stack(grp["embedding"].to_numpy()) \
                    .astype(np.float64)
                r = m * 1e7
                base = np.rint(r)
                sus = np.abs((r - np.floor(r)) - 0.5) < 1e-4
                if sus.any():
                    for i, j in np.argwhere(sus):
                        # exact integer via Decimal arithmetic — a
                        # float(quantized) * 1e7 round-trip would
                        # reintroduce representation error
                        base[i, j] = float(int(
                            Decimal(repr(float(m[i, j])))
                            .quantize(q7, ROUND_HALF_UP) * (10 ** 7)))
                k = int(key)
                if k in sums:
                    sums[k][0] += base.sum(axis=0)
                    sums[k][1] += len(grp)
                else:
                    sums[k] = [base.sum(axis=0), len(grp)]
        rows = [(k, d, int(s[d]), c)
                for k, (s, c) in sums.items() for d in range(len(s))]
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, "dim", "s", "cnt"])

    return (df.select(key_col, "embedding")
            .mapInPandas(partials,
                         f"{key_col} int, dim int, s long, cnt long"))


def _centroid_table_arrow(df: DataFrame, key_col: str) -> DataFrame:
    """(key, centroid) from Arrow partials, final math JVM-side and
    bit-identical to `similarity._davg6`: the exact integer sum S
    converts to double as S / 1e7 (1e7 is exactly representable, so
    the correctly-rounded division equals DECIMAL(18,7) -> double),
    then mean + round-6 exactly as the anchor."""
    parts = _centroid_partials(df, key_col)
    comp = (parts.groupBy(key_col, "dim")
            .agg(F.sum("s").alias("S"), F.sum("cnt").alias("n"))
            .select(key_col, "dim",
                    F.round((F.col("S").cast("double")
                             / F.lit(10_000_000.0)) / F.col("n"), 6)
                    .alias("c")))
    return (comp.groupBy(key_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"]).alias("centroid")))


# --- Arrow label-centroid coherence ------------------------------------


def label_centroids_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per-label centroid + each vector's cosine to its own label
    centroid (cluster-coherence scoring; the IVF trainer's E-step
    view), LABEL_CENTROIDS_ORACLE. The centroid means come from the
    exact integer partial sums of `_centroid_partials` (the shuffle
    carries |labels| x dims rows, never vectors) and the table is
    COLLECTED — |labels| x dims floats, model state — so the cosine
    pass runs as one numpy batch kernel with no broadcast join and no
    interpreted folds. Round-6 before emit, the repo-wide float
    contract; hash-pinned to the oracle in tests/test_round7_ops.py."""
    e = load_table(spark, sf_dir, "embeddings")
    rows = _centroid_table_arrow(e, "label").collect()
    labels = np.array(sorted(r["label"] for r in rows), dtype=np.int64)
    by_label = {r["label"]: r["centroid"] for r in rows}
    cm = np.stack([np.asarray(by_label[l], dtype=np.float64)
                   for l in labels])
    cn = np.sqrt((cm * cm).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            idx = np.searchsorted(labels,
                                  pdf["label"].to_numpy().astype(np.int64))
            c = cm[idx]
            cos = (m * c).sum(axis=1) / (np.sqrt((m * m).sum(axis=1))
                                         * cn[idx])
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "label": pdf["label"].astype("int32"),
                "cos_centroid": np.round(cos, 6),
            })

    return (e.select("vec_id", "label", "embedding")
            .mapInPandas(score,
                         "vec_id long, label int, cos_centroid double"))


# --- Arrow int8 quantizer ---------------------------------------------

_QUANT_SCHEMA = ("vec_id long, label int, scale double, q8 string, "
                 "recon_err double")


def embedding_quantize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] symmetric int8 quantization per vector — the storage/transfer
    form a 100 TB embedding store ships (4x smaller, SIMD dot-products
    downstream), EMBEDDING_QUANTIZE_ORACLE. scale = max|x| / 127 per
    vector; q[i] = round(x[i] / scale) clamped to [-127, 127]; zero
    vectors carry scale 0 and all-zero codes. recon_err round-trips
    the quantization so the oracle proves the exact grid. One numpy
    kernel per Arrow batch (a declarative plan spends its time in
    interpreted transform/zip_with lambdas, 3 per row over 64
    elements), with the oracle's semantics kept exact:

    - q = round(x / scale) is HALF_UP over the value's decimal
      representation; numpy's rint is HALF_EVEN, so exact .5 ties
      (they exist: any element at absmax/2 lands on one) are detected
      with ``y - floor(y) == 0.5`` and re-rounded away from zero;
    - the reconstruction sum accumulates column-by-column in dimension
      order, the oracle's sequential fold (numpy's pairwise axis-sum
      would differ in final ulps);
    - scale / recon_err round to 6 via the shortest-decimal HALF_UP
      contract (Decimal(repr(x))).
    q8 is a comma-joined string: array-typed result columns break
    pandas-based row hashers, and the string form cuts collect transfer
    ~4x. Hash-pinned to the oracle in tests/test_round7_ops.py."""
    import numpy as np  # noqa: F401 (module-level import reused)
    from decimal import ROUND_HALF_UP, Decimal

    e = load_table(spark, sf_dir, "embeddings")
    q6 = Decimal("0.000001")

    def r6s(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q6, ROUND_HALF_UP))

    def quant(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            scale = np.abs(m).max(axis=1) / 127.0
            live = scale > 1e-30
            safe = np.where(live, scale, 1.0)
            y = m / safe[:, None]
            q = np.rint(y)
            ties = (y - np.floor(y)) == 0.5
            if ties.any():
                q = np.where(ties, np.where(y > 0, np.floor(y) + 1.0,
                                            np.floor(y)), q)
            q = np.clip(q, -127.0, 127.0)
            q[~live, :] = 0.0
            qi = q.astype(np.int64)
            r = m - q * scale[:, None]
            sq = r * r
            acc = np.zeros(len(m), dtype=np.float64)
            for j in range(sq.shape[1]):  # sequential fold order
                acc = acc + sq[:, j]
            err = np.sqrt(acc)
            import pandas as pd
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "label": pdf["label"].astype("int32"),
                "scale": [r6s(float(s)) for s in scale],
                "q8": [",".join(map(str, row)) for row in qi],
                "recon_err": [r6s(float(v)) for v in err],
            })

    return (e.select("vec_id", "label", "embedding")
            .mapInPandas(quant, _QUANT_SCHEMA))


def _wjac_sql() -> str:
    pair = "list_zip(e.embedding, q.embedding)"
    sq1 = "CAST(x[1] AS DOUBLE) * CAST(x[1] AS DOUBLE)"
    sq2 = "CAST(x[2] AS DOUBLE) * CAST(x[2] AS DOUBLE)"
    return (f"round(list_sum(list_transform({pair}, "
            f"x -> least({sq1}, {sq2}))) "
            f"/ list_sum(list_transform({pair}, "
            f"x -> greatest({sq1}, {sq2}))), 6)")


def _ann_rerank_oracle() -> str:
    from gcp_datalake_utils_spark.llm.similarity import (
        BATCH_ANN_TOPK_ORACLE,
    )
    return f"""
WITH cand AS (
  SELECT query_id, vec_id FROM ({BATCH_ANN_TOPK_ORACLE})
),
rr AS (
  SELECT c.query_id, c.vec_id, {_wjac_sql()} AS rerank_score
  FROM cand c
  JOIN embeddings e ON c.vec_id = e.vec_id
  JOIN embeddings q ON c.query_id = q.vec_id
)
SELECT query_id, vec_id, rerank_score, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rerank_score DESC, vec_id)
        AS rank
      FROM rr)
WHERE rank <= {RERANK_K}
"""


ANN_RERANK_ORACLE = _ann_rerank_oracle()


# ---------------------------------------------------------------------------
# Semantic decontamination (round 9): the embedding-space sibling of
# the n-gram decontamination family (llm/decontam.py). Model-report
# practice (Gemma/Llama tech reports) flags training documents whose
# embeddings sit within a cosine threshold of any benchmark item —
# catching paraphrased contamination the exact-gram pass misses.
# ---------------------------------------------------------------------------

DECON_MOD = 101      # vec_id % 101 == 0 plays the benchmark slice
DECON_T = 0.95


def embedding_decontamination(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """[Q] (vec_id, max_sim, n_hits, contaminated): for every corpus
    vector, its maximum cosine against the benchmark slice and how
    many benchmark items clear DECON_T.

    Scale shape — the one semantic decontamination actually ships:
    benchmark sets are tiny relative to the corpus (thousands of
    eval items vs billions of documents), so the bench matrix is a
    DRIVER-BROADCAST closure constant and the whole operator is ONE
    narrow Arrow pass (numpy GEMM per batch, corpus row x bench
    matrix) — zero Exchange at any corpus size, embarrassingly
    parallel like the featurizer kernels. No LSH needed: candidate
    generation would only pay off if the bench side were too big to
    broadcast, which contradicts what a benchmark is. Comparisons
    happen on round(cos, 6) in BOTH engines (the family's bit-safety
    rule), so hit counts can't split on a last-ulp disagreement."""
    e = load_table(spark, sf_dir, "embeddings")
    bench = (e.where(F.col("vec_id") % DECON_MOD == 0)
             .select("embedding").collect())
    if not bench:
        # No benchmark slice (corpus too small to contain a
        # vec_id % DECON_MOD == 0 row): max-against-empty-set is
        # undefined and the -2.0 sentinel must never leak — the
        # oracle's cross join also yields zero rows, so return the
        # matching empty frame rather than np.stack crashing.
        return local_frame(
            spark, [], "vec_id long, max_sim double, n_hits long, "
                       "contaminated boolean")
    B = np.stack([np.asarray(r[0], dtype=np.float64) for r in bench])
    bn = np.sqrt((B * B).sum(axis=1))
    # kernel memory contract: the similarity matrix is NEVER
    # materialized batch x |bench| — it streams over bench blocks with
    # a running (max, hit-count) reduction, so per-task memory is
    # batch x BLOCK regardless of benchmark size (a 20k-item bench
    # against 10k-row batches would otherwise allocate 1.6 GB per
    # task; measured as a timeout at 2M vectors before this)
    _BLOCK = 1024

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mn = np.sqrt((m * m).sum(axis=1))[:, None]
            best = np.full(len(m), -2.0)
            hits = np.zeros(len(m), dtype=np.int64)
            for s in range(0, B.shape[0], _BLOCK):
                blk = B[s:s + _BLOCK]
                r = np.round((m @ blk.T)
                             / (mn * bn[None, s:s + _BLOCK]), 6)
                np.maximum(best, r.max(axis=1), out=best)
                hits += (r >= DECON_T).sum(axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "max_sim": best,
                "n_hits": hits,
            })

    return (e.where(F.col("vec_id") % DECON_MOD != 0)
            .select("vec_id", "embedding")
            .mapInPandas(score,
                         "vec_id long, max_sim double, n_hits long")
            .withColumn("contaminated", F.col("n_hits") > 0))


def _embedding_decon_oracle() -> str:
    from gcp_datalake_utils_spark.llm.similarity import _cos_sql
    return f"""
WITH b AS (
  SELECT embedding FROM embeddings WHERE vec_id % {DECON_MOD} = 0
),
s AS (
  SELECT e.vec_id,
         {_cos_sql('e.embedding', 'b.embedding')} AS sim
  FROM embeddings e, b
  WHERE e.vec_id % {DECON_MOD} <> 0
)
SELECT vec_id, max(sim) AS max_sim,
       CAST(count(*) FILTER (WHERE sim >= {DECON_T}) AS BIGINT)
         AS n_hits,
       count(*) FILTER (WHERE sim >= {DECON_T}) > 0 AS contaminated
FROM s GROUP BY vec_id
"""


EMBEDDING_DECONTAMINATION_ORACLE = _embedding_decon_oracle()
