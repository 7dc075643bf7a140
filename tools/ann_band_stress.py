"""Stress the auto-band near-dup knob (r8 verdict ask #6): candidate
count + wall time of embedding_near_dups_auto at vector counts past
the driver corpora, including the bits=16 clamp regime.

Usage: python tools/ann_band_stress.py VEC_DIR [VEC_DIR ...]
(corpora from `python tools/gen_scale.py --vecs K out_dir`).
Prints one JSON line per corpus:
  {"sf_dir":..., "n":..., "labels":..., "bits":..., "candidates":...,
   "cand_sec":..., "full_sec":..., "pairs":...}

--sharded N (round 12, r11 verdict ask #4): run candidate generation
through the label-group-sharded SEQUENTIAL path instead
(`_banded_candidates(..., n_shards=N, scratch_dir=...)`) — N separate
parquet-committed shard jobs, each bounding peak shuffle/heap to one
label group's mass. Prints one JSON line PER SHARD with its candidate
count and per-(label, band, key) block-mass stats, then a total line
with the union's size and the candidate-generation seconds. Skips the
verify stage (the sharding claim is about candidate-join state).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def stress(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from gcp_datalake_utils_spark.llm import similarity as S
    from gcp_datalake_utils_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    bits, bands = S._auto_band_plan(n)
    labs = e.select(F.countDistinct("label")).collect()[0][0]

    t0 = time.time()
    n_cand = S._banded_candidates(e, bits, bands).count()
    t_cand = time.time() - t0
    t0 = time.time()
    pairs = S.embedding_near_dups_auto(spark, sf_dir).count()
    t_full = time.time() - t0
    return {"sf_dir": sf_dir, "n": n, "labels": labs, "bits": bits,
            "bands": bands,
            "candidates": n_cand, "cand_sec": round(t_cand, 1),
            "full_sec": round(t_full, 1), "pairs": pairs}


def stress_sharded(spark, sf_dir: str, n_shards: int,
                   scratch: str) -> None:
    from pyspark.sql import functions as F

    from gcp_datalake_utils_spark.llm import similarity as S
    from gcp_datalake_utils_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    bits, bands = S._auto_band_plan(n)
    # the sequential sharded join writes its band-row store to
    # {scratch}/sig (parquet partitioned by shard, so each shard job
    # scans only its own files) and each shard's pairs to
    # {scratch}/shard=<g>; the per-shard stats below read both back
    t0 = time.time()
    S._banded_candidates(e, bits, bands, n_shards=n_shards,
                         scratch_dir=scratch)
    cand_sec = round(time.time() - t0, 1)
    sig = spark.read.parquet(f"{scratch}/sig")
    total = 0
    for g in range(n_shards):
        s = sig.where(F.col("shard") == g)
        cand = spark.read.parquet(f"{scratch}/shard={g}").count()
        n_vec = s.select("vec_id").distinct().count()
        bstats = (s.groupBy("label", "band", "key")
                  .count().where("count > 1")
                  .agg(F.count("*").alias("blocks"),
                       F.round(F.avg("count"), 1).alias("mean_block"),
                       F.max("count").alias("max_block"))
                  .collect()[0])
        total += cand
        print(json.dumps({
            "sf_dir": sf_dir, "n": n, "bits": bits, "bands": bands,
            "shard": g, "n_shards": n_shards, "shard_vecs": n_vec,
            "candidates": cand,
            "cand_per_vec": round(cand / max(n_vec, 1), 1),
            "blocks_ge2": bstats["blocks"],
            "mean_block": bstats["mean_block"],
            "max_block": bstats["max_block"]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "n": n,
                      "total_candidates": total,
                      "n_shards": n_shards,
                      "cand_sec": cand_sec}), flush=True)


def main() -> None:
    from gcp_datalake_utils_spark.session import get_spark
    args = list(sys.argv[1:])
    n_shards = 0
    if "--sharded" in args:
        i = args.index("--sharded")
        n_shards = int(args[i + 1])
        del args[i:i + 2]
    spark = get_spark("ann_band_stress")
    for sf_dir in args:
        if n_shards:
            scratch = f"/tmp/ann_shard_stress_{os.getpid()}"
            try:
                stress_sharded(spark, sf_dir, n_shards, scratch)
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
        else:
            print(json.dumps(stress(spark, sf_dir)), flush=True)


if __name__ == "__main__":
    main()
