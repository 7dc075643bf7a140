"""Semantic deduplication (SemDeDup, Abbas et al. 2023,
arXiv:2303.09540): k-means-cluster the embedding space, find
eps-similar pairs WITHIN each cluster, connected-component them into
semantic groups, and keep ONE representative per group — the member
LEAST similar to the cluster center (the paper's keep-low-centroid-
similarity rule: it preserves the cluster's diverse rim and drops the
redundant core).

Spark-first composition of three existing oracled primitives:

- the coarse quantizer is the k-means assignment kernel
  (:func:`llm.similarity._assign_clusters`, one Arrow pass against the
  K lowest-vec_id seeds — deterministic, the centroids a closure
  constant, no join and no shuffle); it passes ``embedding`` through,
  so the clustered corpus feeds pair generation with no join back, and
  its ``cosine`` column IS the centroid-similarity the keep rule ranks
  on, so no second scoring pass is needed;
- within-cluster pair generation is the shared banded candidate join
  (:func:`llm.similarity._banded_candidates` at 8 bands of 8 bits)
  with the CLUSTER as the banding label — candidates are an equi-join on
  (cluster, band, key), never a per-cluster cross join, so the stage
  scales exactly like the near-dup family (bounded block mass);
- verification is the shared label-cogrouped Arrow kernel at
  ``SEMDEDUP_EPS`` (0.9 — semantic redundancy, looser than the 0.95
  near-dup contract).

The eps-graph is collapsed with hash-to-min label propagation
(semantic groups are shallow, like dup clusters — O(diameter)
rounds, per-round state |pairs|-sized) and every vector of the corpus
gets a verdict row, singletons kept.

At the banded eps: capture per pair at cosine 0.90 is
1-(1-p_bit^8)^8 ~ 0.93 (p_bit = 1 - acos(0.9)/pi ~ 0.856) — the
standard LSH recall trade, part of the operator contract; the DuckDB
oracle mirrors the banding EXACTLY so both engines compute the same
well-defined operator at every scale.

Reference: no counterpart (the reference has no embedding surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm import similarity as sim
from gcp_datalake_utils_spark.session import SessionCache, session_key
from gcp_datalake_utils_spark.sources import load_table

SEMDEDUP_EPS = 0.9
SEMDEDUP_CC_MAX_ITER = 30
# verdict memo; eager init (the curation._FUNNEL_CACHE rule)
_SEM_CACHE = SessionCache()


def _eps_groups(pairs: DataFrame) -> DataFrame:
    """(vec_id, group_id): connected components of the eps-pair graph
    (shared hash-to-min kernel, llm/cc.py)."""
    from gcp_datalake_utils_spark.llm.cc import cc_min_label
    return cc_min_label(pairs, "vec_a", "vec_b", vertex="vec_id",
                        max_iter=SEMDEDUP_CC_MAX_ITER)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] SemDeDup verdict for EVERY vector: (vec_id, cluster,
    group_id, centroid_cosine, kept). kept = the group member with
    the LOWEST centroid cosine (ties -> lowest vec_id — a total
    order); singletons (no eps-neighbor in their cluster) keep
    themselves."""
    return _SEM_CACHE.get_or_build(
        (session_key(spark), sf_dir),
        lambda: _semantic_dedup_from(
            load_table(spark, sf_dir, "embeddings")).localCheckpoint())


def _semantic_dedup_from(e: DataFrame) -> DataFrame:
    e = e.select("vec_id", "embedding")
    assign = sim._assign_clusters(e, sim._seed_centroids(e)) \
        .localCheckpoint()
    # the cluster plays the banding label, so pair generation is
    # cluster-local by construction
    ec = assign.select("vec_id", F.col("cluster").alias("label"),
                       "embedding")
    cand = sim._banded_candidates(ec, sim.ND64_BITS, sim.ND64_BANDS)
    pairs = sim._verify_pairs_arrow(cand, ec, SEMDEDUP_EPS)
    groups = _eps_groups(pairs)
    w = Window.partitionBy("group_id").orderBy(
        F.asc("centroid_cosine"), F.asc("vec_id"))
    grouped = (groups
               .join(assign.select("vec_id", "cluster",
                                   F.col("cosine")
                                   .alias("centroid_cosine")),
                     "vec_id")
               .withColumn("kept", F.row_number().over(w) == 1)
               .select("vec_id", "group_id", "kept"))
    return (assign
            .join(grouped, "vec_id", "left")
            .select("vec_id", "cluster",
                    F.coalesce("group_id", "vec_id").alias("group_id"),
                    F.col("cosine").alias("centroid_cosine"),
                    F.coalesce("kept", F.lit(True)).alias("kept")))


_SEM_PAIRS_SQL = f"""
assign AS ({sim.KMEANS_ASSIGN_ORACLE}),
ec AS (
  SELECT e.vec_id, a.cluster AS label, e.embedding,
         a.cosine AS centroid_cosine
  FROM embeddings e JOIN assign a USING (vec_id)
),
bands AS ({sim._band_rows_sql(
    'ec', sim._plan_sql(sim.ND64_BITS, sim.ND64_BANDS), sim.ND64_BANDS)}),
{sim._CAND_SQL},
pairs AS ({sim._rescore_sql('cand', 'ec', SEMDEDUP_EPS)})"""

SEMANTIC_DEDUP_ORACLE = f"""
WITH RECURSIVE {_SEM_PAIRS_SQL},
edges AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.v
),
groups AS (SELECT v AS vec_id, min(r) AS group_id FROM reach
           GROUP BY v),
keep AS (
  SELECT g.vec_id, g.group_id,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY a.cosine ASC, g.vec_id) = 1
           AS kept
  FROM groups g JOIN assign a USING (vec_id)
)
SELECT a.vec_id, a.cluster,
       coalesce(k.group_id, a.vec_id) AS group_id,
       a.cosine AS centroid_cosine,
       coalesce(k.kept, TRUE) AS kept
FROM assign a LEFT JOIN keep k USING (vec_id)
"""


def semantic_dedup_rollup(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """[Q] one-row SemDeDup ledger: vectors kept/removed and how many
    multi-member semantic groups drove the removal, per cluster
    rolled up corpus-wide."""
    per = semantic_dedup(spark, sf_dir)
    w = Window.partitionBy("group_id")
    sized = per.withColumn("gsz", F.count("*").over(w))
    return sized.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_removed"),
        F.countDistinct(F.when(F.col("gsz") > 1, F.col("group_id")))
        .alias("n_sem_groups"),
        F.round(F.avg("centroid_cosine"), 6)
        .alias("avg_centroid_cosine"))


SEMANTIC_DEDUP_ROLLUP_ORACLE = f"""
WITH verdict AS MATERIALIZED ({SEMANTIC_DEDUP_ORACLE}),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY group_id) AS gsz FROM verdict
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed,
       CAST(count(DISTINCT CASE WHEN gsz > 1 THEN group_id END)
            AS BIGINT) AS n_sem_groups,
       round(avg(centroid_cosine), 6) AS avg_centroid_cosine
FROM sized
"""
