"""Scaling point for the r8 incremental-streaming fix (VERDICT r7 item 1):
per-micro-batch pair-pass cost as the signature STORE grows, shuffle path
vs broadcast-arrivals path.

Builds stores of 1x / 4x / 8x the signature table of
``$SPARK_GRAFT_SF_DIR`` (default sf0.1; id-offset copies — band keys all
distinct across copies, so candidate counts stay linear), then times
verified_pairs_skinny_fetch with a fixed 500-doc arrival batch on
``session.default_cpus()`` cores:

  * broadcast_b=False (old): the store's exploded band keys are SHUFFLED
    every batch — per-batch cost grows with the store;
  * broadcast_b=True (new): the arrivals broadcast, the store is a
    streamed column-pruned probe — per-batch cost ~flat.

Usage: python scripts/scaling_stream_store.py [out.json]
"""
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from serbian_osm_lint_spark.session import get_spark  # noqa: E402
from serbian_osm_lint_spark.operators import dedup  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    spark = get_spark("scaling_stream_store")
    spark.sparkContext.setLogLevel("ERROR")
    base = dedup.minhash_sig_table(spark, SF)
    n = base.count()
    tmp = "/tmp/stream_store_scaling"
    results = {}
    arrivals = base.limit(500)
    for mult in (1, 4, 8):
        path = f"{tmp}/store_{mult}x"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            parts = [
                base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 100_000_000))
                for i in range(mult)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            df.write.mode("overwrite").parquet(path)
        store = spark.read.parquet(path)
        for label, bc in (("shuffle", False), ("broadcast", True)):
            def run():
                dedup.verified_pairs_skinny_fetch(
                    store, dedup.JACCARD_THRESHOLD, sig_b=arrivals,
                    any_order=True, broadcast_b=bc,
                ).write.format("noop").mode("overwrite").save()
            run()  # warm
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                run()
                runs.append(round(time.perf_counter() - t0, 2))
            results[f"{mult}x_{label}"] = {
                "store_rows": n * mult,
                "median_s": statistics.median(runs),
                "runs": runs,
            }
            print(json.dumps({f"{mult}x_{label}": results[f"{mult}x_{label}"]}), flush=True)
    out = sys.argv[1] if len(sys.argv) > 1 else None
    if out:
        json.dump(results, open(out, "w"), indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
