"""Measure the int8-prefiltered near-dup verify against the float
path at PRODUCTION dims (r11 verdict ask #2b): the r11 ledger pinned
the crossover at dims >~ 370 from the 64-dim measurement's arithmetic;
this tool turns that extrapolation into a measurement on a 768-dim
corpus (`python tools/gen_scale.py --vecs-hd K out_dir`).

Both paths consume the SAME materialized candidate set (parquet), so
the comparison isolates the VERIFY exchange — the stage the int8 codes
quarter. Shuffle bytes come from the Spark UI REST API (the status
store), summed over the stages each path runs.

Usage: python tools/quantized_crossover.py VEC_DIR
Prints one JSON line per path:
  {"path": "float"|"int8", "wall_sec": ..., "shuffle_write_mb": ...,
   "shuffle_read_mb": ..., "pairs": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _ui_totals(port: int) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over all
    completed stages of the app."""
    base = f"http://localhost:{port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{base}/{app_id}/stages?status=complete", timeout=10))
    return (sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("shuffleReadBytes", 0) for s in stages))


def main() -> None:
    vec_dir = sys.argv[1]
    from pyspark.sql import SparkSession

    from gcp_datalake_utils_spark.llm import similarity as S

    spark = (SparkSession.builder.appName("quantized_crossover")
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 32)}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled",
                     "true")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
             .config("spark.ui.enabled", "true")  # the bytes source
             .config("spark.ui.port", "4049")
             .getOrCreate())
    e = spark.read.parquet(f"{vec_dir}/embeddings.parquet")
    n = e.count()
    dims = len(e.select("embedding").head()["embedding"])
    bits, bands = S._auto_band_plan(n)
    print(json.dumps({"n": n, "dims": dims, "bits": bits,
                      "bands": bands}), flush=True)

    scratch = f"/tmp/qx_cand_{os.getpid()}"
    (S._banded_candidates(e, bits, bands, dims=dims)
     .write.mode("overwrite").parquet(scratch))
    cand = spark.read.parquet(scratch)
    print(json.dumps({"candidates": cand.count()}), flush=True)

    def run(tag, build):
        w0, r0 = _ui_totals(4049)
        t0 = time.time()
        pairs = build().count()
        wall = time.time() - t0
        w1, r1 = _ui_totals(4049)
        print(json.dumps({
            "path": tag, "wall_sec": round(wall, 1),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "pairs": pairs}), flush=True)

    run("float", lambda: S._verify_pairs_arrow(cand, e, 0.95))
    run("int8", lambda: S.quantized_verify(cand, e, 0.95))
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
