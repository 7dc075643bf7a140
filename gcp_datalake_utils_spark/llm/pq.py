"""Product quantization (IVF-PQ's storage half): train per-subspace
codebooks, encode every vector to M small codes, and answer queries
with asymmetric-distance (ADC) lookups over the codes.

PQ is the canonical billion-vector memory lever (Jegou et al. 2011,
"Product Quantization for Nearest Neighbor Search"): a 64-dim float32
vector (256 B) becomes PQ_M=8 codes of one byte (8 B, 32x), and query
scoring never touches the floats — each query builds an M x K lookup
table of subspace distances and every vector's approximate distance
is M table lookups. The repo's ANN family already has the other
levers (RP-LSH buckets, IVF cells via ``label``, label-group
sharding); this module adds the compressed-storage path those levers
assume at >= 1e9 vectors, where the float corpus no longer fits even
sharded.

Spark-first shape, and why it holds at 100 TB:

1. subvector extraction is NARROW (in-row ``slice`` into an exploded
   (vec_id, m, sub) stream — 8 rows per vector, no window, no join);
2. codebook training is Lloyd's over each subspace SIMULTANEOUSLY:
   one broadcast of the (m, code, centroid) table (PQ_M x PQ_K = 128
   rows — model-sized at any corpus scale) fans out K candidates per
   (vector, subspace) and a partial-aggregated groupBy argmin ships
   ONE row per (vector, subspace); the M-step shuffles
   |M x K x dims| component rows, never vectors (the discipline of
   the retired JVM ``kmeans_iterate``, per subspace);
3. encoding IS the final assignment — codes leave the plan as an
   8-int array per vector, the only thing a production index persists
   (the float corpus is scanned once and never shuffled);
4. ADC scoring joins the CODE stream to a broadcast M x K lookup
   table built from the query alone, then one vec_id-keyed rollup of
   8 rounded-decimal terms — the corpus-side traffic is codes, never
   embeddings, which is the entire point of PQ.

Cross-engine bit-safety (the family's standard contract): centroid
components are exact-decimal means rounded to 6 (``_davg6``), every
distance is rounded to 6 BEFORE the argmin (ties break to the lowest
code on both engines), and per-vector sums of rounded terms fold as
DECIMAL(18,6) so partial-merge order cannot move them.

Reference parity: the reference has no vector operators at all (its
unit is the table/column — ``bigquery_to_erd/src``); north-star
extension per SURVEY.md §1.2, sibling of llm/similarity.py's
kmeans/IVF family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm.similarity import (
    QUERY_VEC_ID,
    TOP_K,
    _davg6,
    _DAVG6_SQL,
)
from gcp_datalake_utils_spark.session import SessionCache, session_key
from gcp_datalake_utils_spark.sources import load_table, local_frame

PQ_M = 8        # subspaces
PQ_SUB = 8      # dims per subspace (PQ_M * PQ_SUB = 64 = N_DIMS)
PQ_K = 16       # codebook size per subspace
PQ_ITERS = 2    # Lloyd rounds (assignment+update), then final assign

_SQL2_SQL = ("list_sum(list_transform(list_zip({a}, {b}), "
             "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
             "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))")


def _sql2(a, b):
    """Squared L2 between two float arrays as a JVM fold (cast to
    double first — same ~1e-15 cross-engine agreement as _dot)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)


def _subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, label, m, sub): the narrow in-row subspace split."""
    return (e.select("vec_id", "label", F.explode(F.array(*[
        F.struct(F.lit(m).alias("m"),
                 F.slice("embedding", m * PQ_SUB + 1, PQ_SUB).alias("sub"))
        for m in range(PQ_M)])).alias("s"))
        .select("vec_id", "label", "s.m", "s.sub"))


def _pq_seed(e: DataFrame) -> DataFrame:
    """(m, code, centroid): codes 0..K-1 are the K lowest vec_ids'
    subvectors (deterministic — the kmeans_assign seeding rule)."""
    low = (e.orderBy("vec_id").limit(PQ_K)
           .select("vec_id",
                   (F.row_number().over(Window.orderBy("vec_id")) - 1)
                   .cast("int").alias("code")))
    return (_subvectors(e).join(F.broadcast(low), "vec_id")
            .select("m", "code", F.col("sub").alias("centroid")))


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, m, code, d): per-subspace argmin over the broadcast
    codebook. K-row fan-out per (vector, subspace); the groupBy argmin
    partial-aggregates so the shuffle carries one row per (vector,
    subspace). Distance rounded to 6 before the argmin; ties break to
    the lowest code on both engines (lexicographic struct min)."""
    d = F.round(_sql2(F.col("sub"), F.col("centroid")), 6)
    best = F.min(F.struct(d.alias("d"), F.col("code").alias("code")))
    return (sub.join(F.broadcast(cents), "m")
            .groupBy("vec_id", "m")
            .agg(best.alias("b"))
            .select("vec_id", "m", F.col("b.code").alias("code"),
                    F.col("b.d").alias("d")))


def _pq_update(sub: DataFrame, assign: DataFrame) -> DataFrame:
    """M-step: exact-decimal component means per (m, code) — the
    shuffle carries |M x K x PQ_SUB| component rows, never vectors;
    centroids re-assembled with a dims-bounded collect_list."""
    comp = (sub.join(assign.select("vec_id", "m", "code"), ["vec_id", "m"])
            .select("m", "code", F.posexplode("sub").alias("dim", "v"))
            .groupBy("m", "code", "dim")
            .agg(_davg6(F.col("v")).alias("c")))
    return (comp.groupBy("m", "code")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"]).alias("centroid")))


def _pq_train(e: DataFrame):
    """(final codebook, final assignment) after PQ_ITERS Lloyd rounds
    over every subspace at once."""
    sub = _subvectors(e)
    cents = _pq_seed(e)
    for _ in range(PQ_ITERS):
        assign = _pq_assign(sub, cents)
        cents = _pq_update(sub, assign)
    return cents, _pq_assign(sub, cents)


_INDEX_CACHE = SessionCache()  # eager init: the curation-cache rule


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codebook, codes) as materialized frames — the PREBUILT index
    every serving row reads. Training is an OFFLINE job in a
    production PQ deployment (codebook and codes are persisted once,
    queries only read them — that asymmetry is the entire point of
    the structure), so the serving rows share one training pass per
    (session, corpus); the memo is the session twin of the persisted
    codebook+codes tables. At >= 1e9 vectors the codes frame is a
    parquet table partitioned like the corpus (localCheckpoint of a
    corpus-sized frame starves local execution memory — the round-12
    scratch-store lesson); the 128-row codebook stays a broadcast."""
    def build():
        cents, assign = _pq_train(
            load_table(spark, sf_dir, "embeddings"))
        return (cents.localCheckpoint(), assign.localCheckpoint())
    return _INDEX_CACHE.get_or_build(
        (session_key(spark), sf_dir), build)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] every vector's PQ code word (array of PQ_M codes) plus its
    reconstruction MSE — the compressed representation a billion-
    vector index persists instead of the floats. recon_err folds the
    per-subspace rounded distances as DECIMAL(18,6) (merge-order
    exact) and divides by the full dimensionality."""
    e = load_table(spark, sf_dir, "embeddings")
    _, assign = _pq_index(spark, sf_dir)
    return _codes_rollup(e, assign)


def _codes_rollup(e: DataFrame, assign: DataFrame) -> DataFrame:
    per_vec = (assign.groupBy("vec_id")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("m", "code"))),
                   lambda s: s["code"]).alias("codes"),
                   F.round(
                       F.sum(F.col("d").cast("decimal(18,6)"))
                       .cast("double") / F.lit(float(PQ_M * PQ_SUB)),
                       6).alias("recon_err")))
    return (e.select("vec_id", "label").join(per_vec, "vec_id")
            .select("vec_id", "label", "codes", "recon_err"))


PQ_TRAIN_SAMPLE = 256


def _pq_train_sampled(e: DataFrame):
    """(codebook, full-corpus assignment) with Lloyd's run over only
    the PQ_TRAIN_SAMPLE lowest vec_ids — the production training
    knob: codebooks converge on a sample, so the corpus pays ONE
    encode pass instead of PQ_ITERS + 1 (measured at 8M vectors in
    BASELINE). The seed rule is unchanged (the K lowest ids are
    inside the sample by construction).

    Round 14 (guide §1.2; VERDICT r13 item 7): the declarative Lloyd
    rounds ran 2 multi-stage Spark jobs per iteration over MODEL-STATE
    data (256 x 64 doubles) — ~2 s of pure stage/broadcast overhead,
    and 8->32-core scaling of 0.63 (more cores slower). The sample IS
    model state, so training now runs DRIVER-SIDE in numpy with the
    family's bit-exact JVM-parity arithmetic (the kmeans_iterate_arrow
    / pq_codes_arrow precedent; BASELINE.md already describes the
    production build as "Lloyd over sampled vectors, driver-side"):
    - distances fold sequentially per dim, then round-6 with the
      suspect-band Decimal rescue (== F.round(_sql2(..), 6));
    - argmin over the rounded matrix in code order (first-min = lowest
      code, the struct-min tie rule);
    - centroid means replicate _davg6 exactly: HALF_UP round-7 as
      integer micro-units, exact integer sum, S/1e7 (== the
      DECIMAL(18,7) -> DOUBLE cast), / n, then shortest-decimal
      HALF_UP round-6;
    - codes with no members drop out of the table, exactly like the
      groupBy M-step.
    The trained codebook re-enters as a <= M x K-row local_frame
    (float64 -> DoubleType is exact); the full-corpus encode is the
    unchanged JVM _pq_assign. Bit-identity to the r13 declarative
    chain is pytest-pinned (tests/test_r14_optimizations.py) and the
    row is oracle-gated at 3 SFs x 8/32 cores."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    spark = e.sparkSession
    rows = (e.orderBy("vec_id").limit(PQ_TRAIN_SAMPLE)
            .select("vec_id", "embedding").collect())
    rows.sort(key=lambda r: r.vec_id)
    x = np.array([r.embedding for r in rows], dtype=np.float64)

    q6 = Decimal("0.000001")
    q7 = Decimal("0.0000001")

    def r6s(v: float) -> float:
        return float(Decimal(repr(v)).quantize(q6, ROUND_HALF_UP))

    def round6_mat(acc):
        y = acc * 1e6
        d6 = np.round(acc, 6)
        sus = np.abs((y - np.floor(y)) - 0.5) < 1e-6
        if sus.any():
            flat = d6.ravel()
            for i in np.flatnonzero(sus.ravel()):
                flat[i] = r6s(float(acc.ravel()[i]))
        return d6

    def micro7(col):
        r = col * 1e7
        base = np.rint(r)
        sus = np.abs((r - np.floor(r)) - 0.5) < 1e-4
        if sus.any():
            for i in np.flatnonzero(sus):
                base[i] = float(int(
                    Decimal(repr(float(col[i])))
                    .quantize(q7, ROUND_HALF_UP) * (10 ** 7)))
        return base.astype(np.int64)

    books = {m: {c: x[c, m * PQ_SUB:(m + 1) * PQ_SUB]
                 for c in range(min(PQ_K, len(x)))}
             for m in range(PQ_M)}
    for _ in range(PQ_ITERS):
        nxt = {}
        for m in range(PQ_M):
            codes_sorted = sorted(books[m])
            cm = np.stack([books[m][c] for c in codes_sorted])
            s = x[:, m * PQ_SUB:(m + 1) * PQ_SUB]
            diff = s[:, None, :] - cm[None, :, :]
            sq = diff * diff
            acc = np.zeros((len(x), len(codes_sorted)))
            for j in range(PQ_SUB):  # JVM fold order, exactly
                acc = acc + sq[:, :, j]
            pick = round6_mat(acc).argmin(axis=1)
            assigned = np.asarray(codes_sorted, dtype=np.int64)[pick]
            nb = {}
            for c in sorted(set(assigned.tolist())):
                mem = s[assigned == c]
                nb[c] = np.array([
                    r6s((float(int(micro7(mem[:, dd]).sum())) / 1e7)
                        / len(mem))
                    for dd in range(PQ_SUB)])
            nxt[m] = nb
        books = nxt
    cent_rows = [(m, int(c), [float(v) for v in books[m][c]])
                 for m in range(PQ_M) for c in sorted(books[m])]
    cents = local_frame(
        spark, cent_rows, "m int, code int, centroid array<double>")
    return cents, _pq_assign(_subvectors(e), cents)


def pq_codes_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] pq_codes with sample-trained codebooks (the production
    build): iteration cost is sample-sized, the corpus is touched
    once, and the oracle mirrors the same training slice."""
    e = load_table(spark, sf_dir, "embeddings")
    _, assign = _pq_train_sampled(e)
    return _codes_rollup(e, assign)


_CODES_SCHEMA = ("vec_id long, label int, codes array<int>, "
                 "recon_err double")


def pq_codes_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] Arrow twin of :func:`pq_codes` — identical result, same
    oracle. The JVM encode fans every (vector, subspace) out to K
    broadcast rows and argmins in an aggregate (shuffle-cheap but
    interpreted fold per candidate); this kernel scores a whole Arrow
    batch against the collected 128-row codebook as one numpy
    broadcast subtraction per subspace — the NARROW production
    encode pass (no shuffle at all; codes leave with the scan).

    JVM-parity contract (the embedding_quantize_arrow discipline):
    distances accumulate column-by-column in the JVM fold order, are
    rounded via vectorized np.round with the suspicious-boundary
    rescue re-rounded through Decimal HALF_UP (np.round is HALF_EVEN
    on exact ties), argmin runs on the rounded matrix in code order
    (first-min = lowest code, the struct-min tie rule), and
    recon_err replicates the DECIMAL(18,6) sum exactly: integer
    micro-units, with the one true boundary class (micro_sum % 64 ==
    32 — an exact .5 at the 7th decimal after the /64) re-computed
    through Decimal. Bit-identity to the JVM twin is
    pytest-guarded."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")

    def r6s(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q6, ROUND_HALF_UP))

    e = load_table(spark, sf_dir, "embeddings")
    cents, _ = _pq_index(spark, sf_dir)
    books = {}  # m -> (codes int array, centroid matrix)
    for r in cents.collect():
        books.setdefault(r.m, []).append(
            (r.code, np.asarray(r.centroid, dtype=np.float64)))
    books = {m: (np.array([c for c, _ in sorted(v)], dtype=np.int64),
                 np.stack([a for _, a in sorted(v)]))
             for m, v in books.items()}

    def _round6(acc):
        """F.round(x, 6) over a matrix: vectorized np.round, with
        entries near the .5e-6 boundary re-rounded through Decimal
        (the similarity_arrow sus-rescue)."""
        y = acc * 1e6
        d6 = np.round(acc, 6)
        sus = np.abs((y - np.floor(y)) - 0.5) < 1e-6
        if sus.any():
            flat = d6.ravel()
            for i in np.flatnonzero(sus.ravel()):
                flat[i] = r6s(float(acc.ravel()[i]))
        return d6

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(x)
            codes = np.zeros((n, PQ_M), dtype=np.int64)
            micro = np.zeros(n, dtype=np.int64)
            for m in range(PQ_M):
                code_ids, cm = books[m]
                s = x[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                diff = s[:, None, :] - cm[None, :, :]
                sq = diff * diff
                acc = np.zeros((n, cm.shape[0]), dtype=np.float64)
                for j in range(PQ_SUB):  # JVM fold order, exactly
                    acc = acc + sq[:, :, j]
                d6 = _round6(acc)
                pick = d6.argmin(axis=1)  # first min = lowest code
                codes[:, m] = code_ids[pick]
                micro += np.round(
                    d6[np.arange(n), pick] * 1e6).astype(np.int64)
            denom = PQ_M * PQ_SUB
            err = np.round(micro.astype(np.float64) * 1e-6 / denom, 6)
            sus = micro % denom == denom // 2  # exact .5 at 7th dp
            if sus.any():
                for i in np.flatnonzero(sus):
                    err[i] = r6s(
                        float(Decimal(int(micro[i])) / Decimal(10 ** 6))
                        / denom)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "label": pdf["label"].astype("int32"),
                "codes": codes.astype("int32").tolist(),
                "recon_err": err,
            })

    return (e.select("vec_id", "label", "embedding")
            .mapInPandas(encode, _CODES_SCHEMA))


def _pq_train_ctes(train_sub: str = "sub") -> list[str]:
    """The DuckDB mirror of _pq_train: sub / c0 / (a_i, m_i, c_i)*
    CTEs; the final assignment is a{PQ_ITERS}. ``train_sub`` names
    the CTE the Lloyd iterations read — "sub" for full-corpus
    training, a filtered CTE for the sample-trained variant."""
    sq = _SQL2_SQL.format(a="s.sub", b="c.centroid")
    ctes = [f"""sub AS (
  SELECT vec_id, label, m,
         list_slice(embedding, m * {PQ_SUB} + 1,
                    m * {PQ_SUB} + {PQ_SUB}) AS sub
  FROM embeddings, unnest(range({PQ_M})) AS t(m))""", f"""c0 AS (
  SELECT m,
         CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
              AS INTEGER) AS code,
         sub AS centroid
  FROM sub
  WHERE vec_id IN (SELECT vec_id FROM embeddings
                   ORDER BY vec_id LIMIT {PQ_K}))"""]
    for i in range(PQ_ITERS + 1):
        # Lloyd iterations assign/update over the TRAINING slice;
        # only the final assignment encodes the full corpus
        src = "sub" if i == PQ_ITERS else train_sub
        ctes.append(f"""a{i} AS (
  SELECT vec_id, m, code, d FROM (
    SELECT s.vec_id, s.m, c.code, round({sq}, 6) AS d
    FROM {src} s JOIN c{i} c ON s.m = c.m)
  QUALIFY row_number() OVER (PARTITION BY vec_id, m
                             ORDER BY d, code) = 1)""")
        if i == PQ_ITERS:
            break
        ctes.append(f"""m{i + 1} AS (
  SELECT a.m, a.code, dd AS dim,
         {_DAVG6_SQL.format(v='s.sub[dd + 1]')} AS c
  FROM {train_sub} s JOIN a{i} a ON s.vec_id = a.vec_id AND s.m = a.m,
       unnest(range({PQ_SUB})) AS t(dd)
  GROUP BY a.m, a.code, dd)""")
        ctes.append(f"""c{i + 1} AS (
  SELECT m, code, list(c ORDER BY dim) AS centroid
  FROM m{i + 1} GROUP BY m, code)""")
    return ctes


_A_FINAL = f"a{PQ_ITERS}"

PQ_CODES_ORACLE = f"""
WITH {','.join(_pq_train_ctes())}
SELECT e.vec_id, e.label, j.codes, j.recon_err
FROM (
  SELECT vec_id,
         list(CAST(code AS INTEGER) ORDER BY m) AS codes,
         round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE)
               / {PQ_M * PQ_SUB}, 6) AS recon_err
  FROM {_A_FINAL} GROUP BY vec_id) j
JOIN embeddings e USING (vec_id)
"""


def _sampled_ctes() -> str:
    """Training CTEs with the Lloyd slice: sub, c0, sub_s, then the
    a/m/c chain reading sub_s (final assignment reads sub)."""
    ctes = _pq_train_ctes("sub_s")
    sub_s = f"""sub_s AS (
  SELECT s.* FROM sub s
  WHERE s.vec_id IN (SELECT vec_id FROM embeddings
                     ORDER BY vec_id LIMIT {PQ_TRAIN_SAMPLE}))"""
    return ",".join([ctes[0], ctes[1], sub_s, *ctes[2:]])


PQ_CODES_SAMPLED_ORACLE = f"""
WITH {_sampled_ctes()}
SELECT e.vec_id, e.label, j.codes, j.recon_err
FROM (
  SELECT vec_id,
         list(CAST(code AS INTEGER) ORDER BY m) AS codes,
         round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE)
               / {PQ_M * PQ_SUB}, 6) AS recon_err
  FROM {_A_FINAL} GROUP BY vec_id) j
JOIN embeddings e USING (vec_id)
"""


def _adc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, approx_dist): read the prebuilt index, build the
    query's M x K lookup table, and sum each non-query vector's M
    looked-up terms as DECIMAL(18,6) (merge-order exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, assign = _pq_index(spark, sf_dir)
    lut = (_subvectors(e.where(F.col("vec_id") == QUERY_VEC_ID))
           .select("m", "sub")
           .join(cents, "m")
           .select("m", "code",
                   F.round(_sql2(F.col("sub"), F.col("centroid")), 6)
                   .alias("d")))
    return (assign.where(F.col("vec_id") != QUERY_VEC_ID)
            .select("vec_id", "m", "code")
            .join(F.broadcast(lut), ["m", "code"])
            .groupBy("vec_id")
            .agg(F.round(F.sum(F.col("d").cast("decimal(18,6)"))
                         .cast("double"), 6).alias("approx_dist")))


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] asymmetric-distance top-k: the query builds an M x K
    distance lookup table against the trained codebook (128 rounded
    doubles — broadcast), every vector's approximate distance is the
    DECIMAL-exact sum of its M looked-up terms, and the global top-k
    is a TakeOrderedAndProject (ascending distance, vec_id ties).
    The corpus side of the join ships only (vec_id, m, code) int rows
    — never floats — which is the ADC memory contract."""
    scored = _adc_scores(spark, sf_dir)
    top = scored.orderBy("approx_dist", "vec_id").limit(TOP_K)
    w = Window.orderBy("approx_dist", "vec_id")
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .join(load_table(spark, sf_dir, "embeddings")
                  .select("vec_id", "label"), "vec_id")
            .select("vec_id", "label", "approx_dist", "rank"))


_ADC_CTES = f"""lut AS (
  SELECT c.m, c.code,
         round({_SQL2_SQL.format(a='s.sub', b='c.centroid')}, 6) AS d
  FROM sub s JOIN c{PQ_ITERS} c ON s.m = c.m
  WHERE s.vec_id = {QUERY_VEC_ID}),
adc AS (
  SELECT a.vec_id,
         round(CAST(sum(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS approx_dist
  FROM {_A_FINAL} a JOIN lut l ON a.m = l.m AND a.code = l.code
  WHERE a.vec_id <> {QUERY_VEC_ID}
  GROUP BY a.vec_id)"""

PQ_ADC_TOPK_ORACLE = f"""
WITH {','.join(_pq_train_ctes())},{_ADC_CTES}
SELECT t.vec_id, e.label, t.approx_dist, t.rank
FROM (SELECT vec_id, approx_dist,
             CAST(row_number() OVER (ORDER BY approx_dist, vec_id)
                  AS INTEGER) AS rank
      FROM adc) t
JOIN embeddings e USING (vec_id)
WHERE t.rank <= {TOP_K}
"""


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] IVF-PQ serving: ADC restricted to the query's coarse cell
    (``label`` is the IVF cell by repo convention, nprobe=1 — the
    similarity.py IVF trade). At >= 1e9 vectors the codes store is
    PARTITIONED BY the cell, so this filter is partition pruning: the
    scan touches cell-sized bytes of 8-byte codes — the two
    compression levers (cell pruning x PQ codes) composed, which is
    the standard billion-scale serving shape (IVFADC)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (e.where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("label").alias("q_label")))
    cell = (_adc_scores(spark, sf_dir)
            .join(e.select("vec_id", "label"), "vec_id")
            .crossJoin(F.broadcast(q))
            .where(F.col("label") == F.col("q_label")))
    top = cell.orderBy("approx_dist", "vec_id").limit(TOP_K)
    w = Window.orderBy("approx_dist", "vec_id")
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("vec_id", "label", "approx_dist", "rank"))


IVF_PQ_TOPK_ORACLE = f"""
WITH {','.join(_pq_train_ctes())},{_ADC_CTES}
SELECT t.vec_id, t.label, t.approx_dist, t.rank
FROM (SELECT a.vec_id, e.label, a.approx_dist,
             CAST(row_number() OVER (ORDER BY a.approx_dist, a.vec_id)
                  AS INTEGER) AS rank
      FROM adc a JOIN embeddings e USING (vec_id)
      WHERE e.label = (SELECT label FROM embeddings
                       WHERE vec_id = {QUERY_VEC_ID})) t
WHERE t.rank <= {TOP_K}
"""


PQ_SHORTLIST = 10 * TOP_K


def pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] recall@k against the exact-L2 top-k for BOTH retrieval
    arms a compressed index ships: raw ADC ranking, and the
    production composition (ADC shortlist of PQ_SHORTLIST, exact
    rerank of the shortlist only). Honest by measurement: on this
    corpus (near-uniform unit vectors — NN distance 1.19 vs mean
    2.0) raw ADC recall@10 is 0.0 at M=8/K=16, while the shortlist
    arm recovers 0.7 touching 5% of the corpus at sf0.1 — which is
    exactly why production PQ always reranks a shortlist. Two
    model-sized rows out; the rerank's float fetch is a
    shortlist-sized semi-join, never a corpus scan."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (e.where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("embedding").alias("q_emb")))
    d_exact = F.round(_sql2(F.col("embedding"), F.col("q_emb")), 6)
    exact = (e.where(F.col("vec_id") != QUERY_VEC_ID)
             .crossJoin(F.broadcast(q))
             .select("vec_id", d_exact.alias("d"))
             .orderBy("d", "vec_id").limit(TOP_K)
             .select("vec_id"))
    adc = _adc_scores(spark, sf_dir)
    adc_top = (adc.orderBy("approx_dist", "vec_id")
               .limit(TOP_K).select("vec_id"))
    short = (adc.orderBy("approx_dist", "vec_id")
             .limit(PQ_SHORTLIST).select("vec_id"))
    rerank_top = (e.join(short, "vec_id")
                  .crossJoin(F.broadcast(q))
                  .select("vec_id", d_exact.alias("d"))
                  .orderBy("d", "vec_id").limit(TOP_K)
                  .select("vec_id"))
    arms = [("adc_raw", adc_top), ("shortlist_rerank", rerank_top)]
    out = None
    for name, top in arms:
        row = (exact.join(top, "vec_id")
               .agg(F.count("*").alias("n"))
               .select(F.lit(name).alias("arm"),
                       F.lit(TOP_K).cast("int").alias("k"),
                       F.col("n").cast("int").alias("hits"),
                       F.round(F.col("n") / F.lit(float(TOP_K)), 6)
                       .alias("recall")))
        out = row if out is None else out.unionAll(row)
    return out


PQ_RECALL_AUDIT_ORACLE = f"""
WITH {','.join(_pq_train_ctes())},{_ADC_CTES},
exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           round({_SQL2_SQL.format(a='e.embedding', b='q.embedding')}, 6)
             AS d
    FROM embeddings e, (SELECT embedding FROM embeddings
                        WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE e.vec_id <> {QUERY_VEC_ID})
  QUALIFY row_number() OVER (ORDER BY d, vec_id) <= {TOP_K}),
adc_top AS (
  SELECT vec_id FROM adc
  QUALIFY row_number() OVER (ORDER BY approx_dist, vec_id) <= {TOP_K}),
short AS (
  SELECT vec_id FROM adc
  QUALIFY row_number() OVER (ORDER BY approx_dist, vec_id)
          <= {PQ_SHORTLIST}),
rerank_top AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           round({_SQL2_SQL.format(a='e.embedding', b='q.embedding')}, 6)
             AS d
    FROM embeddings e JOIN short USING (vec_id),
         (SELECT embedding FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}) q)
  QUALIFY row_number() OVER (ORDER BY d, vec_id) <= {TOP_K})
SELECT 'adc_raw' AS arm, CAST({TOP_K} AS INTEGER) AS k,
       CAST(count(*) AS INTEGER) AS hits,
       round(count(*) / {float(TOP_K)}, 6) AS recall
FROM exact JOIN adc_top USING (vec_id)
UNION ALL
SELECT 'shortlist_rerank' AS arm, CAST({TOP_K} AS INTEGER) AS k,
       CAST(count(*) AS INTEGER) AS hits,
       round(count(*) / {float(TOP_K)}, 6) AS recall
FROM exact JOIN rerank_top USING (vec_id)
"""
