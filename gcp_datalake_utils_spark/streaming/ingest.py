"""Streaming ingest screen: near-dup candidate detection ON ARRIVAL
(the streaming stage of llm/dedup.dedup_incremental).

Production ingest splits near-dup admission in two: the STREAM screens
each arriving document against the corpus's precomputed LSH band index
(cheap, row-local signature + an equi-join), and only screened docs go
to the batch exact-Jaccard verifier (dedup_incremental). This module is
that first stage as a real Structured Streaming query.

Why this decomposition is the scalable one:

1. the stream side computes its MinHash signature as a ROW-LOCAL
   projection (shingle array staged once, then k array_min/transform
   traversals) — no aggregation, no state, so the only stateful
   operator in the whole query is the final per-doc rollup;
2. the corpus band index is the STATIC side of a stream-static left
   join — at 100 TB it is a bucketed table keyed by (band, band_hash),
   here it is computed inline from the same corpus slice the batch
   verifier uses;
3. Structured Streaming allows one aggregation per query — the screen
   needs exactly one (hits per arriving doc), which is why exact
   verification (agg -> join -> agg -> window) belongs to the batch
   stage, not the stream.

The batch slice doc_id % 10 == 0 plays the arriving stream, matching
dedup_incremental; the oracle is the batch-twin SQL over the same band
keys, so stream==batch semantics are value-checked at every gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm.dedup import (
    BANDS,
    BATCH_MOD,
    K_MINHASH,
    _band_keys,
    _band_keys_from_sig,
    _band_keys_sql,
    _shingles_of,
    _words,
    MINHASH_ORACLE,
)
from gcp_datalake_utils_spark.sources import load_table
from gcp_datalake_utils_spark.streaming.windows import (
    _stream_dir,
    run_available_now,
)


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents layout."""
    schema = load_table(spark, sf_dir, "documents").schema
    return (spark.readStream.schema(schema)
            .parquet(_stream_dir(sf_dir, "documents")))


def _row_local_band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) WITHOUT any aggregation: signature =
    k array_min traversals over the staged shingle array — the
    streaming-safe twin of the batch groupBy-min signature (same
    values: min over the same shingle set)."""
    staged = (docs.select("doc_id", _words().alias("ws"))
              .select("doc_id", _shingles_of("ws").alias("sh")))

    def _mh(k: int):
        # factory, not a default-arg lambda: a (s, k=k) lambda has two
        # parameters, which PySpark reads as an (element, index) HOF
        return F.array_min(F.transform(
            "sh", lambda s: F.md5(F.concat(F.lit(f"{k}:"), s))))

    mh = [_mh(k).alias(f"mh_{k}") for k in range(K_MINHASH)]
    return _band_keys_from_sig(staged.select("doc_id", *mh))


def ingest_screen_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per arriving document: how many corpus band-index entries it
    collides with and whether it must go to exact verification.
    (doc_id, n_band_hits, screened)."""
    arriving = _doc_stream(spark, sf_dir) \
        .where(F.col("doc_id") % BATCH_MOD == 0)
    corpus_index = (_band_keys(spark, sf_dir)
                    .where(F.col("doc_id") % BATCH_MOD != 0)
                    .withColumnRenamed("doc_id", "corpus_doc"))
    hits = (_row_local_band_keys(arriving)
            .join(corpus_index, ["band", "band_hash"], "left")
            .groupBy("doc_id")
            .agg(F.count("corpus_doc").alias("n_band_hits")))
    out = run_available_now(hits)
    return out.select("doc_id", "n_band_hits",
                      (F.col("n_band_hits") > 0).alias("screened"))


INGEST_SCREEN_ORACLE = f"""
WITH sig AS ({MINHASH_ORACLE}),
bk AS ({_band_keys_sql()}),
hits AS (
  SELECT a.doc_id, count(*) AS n_band_hits
  FROM bk a JOIN bk b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id % {BATCH_MOD} = 0 AND b.doc_id % {BATCH_MOD} <> 0
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(h.n_band_hits, 0) AS n_band_hits,
       h.doc_id IS NOT NULL AS screened
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {BATCH_MOD} = 0
"""
