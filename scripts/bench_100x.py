#!/usr/bin/env python
"""100×-proxy end-to-end bench (VERDICT r5 stretch item 8).

Synthesizes ONCE a corpus directory shaped exactly like the driver's
sf0.1 testdata but 100× the rows (1.5 M lint docs via ``customer``,
500 k ``documents``, 200 k 64-dim ``embeddings``, 10 M ``events``),
then runs the ``QUERIES`` entries of ``__spark_entry__.queries()`` over
it on local[N] (N from ``session.default_cpus()``) with the same
warm + median-of-3 + consuming-aggregate protocol as ``bench.py``.

Purpose: the 15 k-row sf0.1 corpora amortize driver-side costs
(plan build, IVF codebook collect, broadcast prep) invisibly — this run
surfaces any cost that does NOT scale with data.

One deliberate substitution: ``knn_dup_names`` runs the CAPPED variant.
The synthetic corpus draws names from 16 base values, so at 1.5 M docs
the uncapped (cell, name) join's hot group is ~28 k rows → ~4×10^8
pairs per group — a synth-cardinality artifact (real OSM name
cardinality grows with the corpus), and exactly the regime the capped
operator exists for (pair space n·cap, not n²).

Usage: python scripts/bench_100x.py [--rebuild]
Prints one JSON line like bench.py (metric/value/queries/regime).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (consume/calibrate + protocol constants)

SCALE = 100
N_CUSTOMERS = 15_000 * SCALE
N_DOCUMENTS = 5_000 * SCALE
N_EMBEDDINGS = 2_000 * SCALE
N_EVENTS = 100_000 * SCALE
N_USERS = 1_500 * SCALE
EMB_DIM = 64
N_RUNS = 3
#: the timed ``__spark_entry__.queries()`` entries, in run order
QUERIES = (
    "lint_verdicts",
    "point_in_serbia",
    "knn_dup_names_capped",
    "tile_assignment",
    "cell_counts_salted",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_stored",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_topk_stored",
    "ann_pq_topk_stored",
    "simhash_near_dups",
    "simhash_near_dups_stored",
    "dedup_components_multi_stored",
    "media_features",
    "asof_join",
    "range_join",
    "decontaminate",
    "vocab_topk",
)


def proxy_dir() -> str:
    from serbian_osm_lint_spark.sources.catalog import _cache_root

    return os.path.join(_cache_root(), "sf10_proxy")


def build_proxy(spark, out: str, cpus: int) -> None:
    """Write the four 100×-sized tables with the driver-testdata schemas.
    All derivations are deterministic column math (no RNG, no collect)."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark import synth

    os.makedirs(out, exist_ok=True)
    parts = cpus * 4

    # customer: only c_custkey is consumed (synth.scalar_tags_df) but the
    # full driver schema is written so every query sees the real shape
    cust = spark.range(1, N_CUSTOMERS + 1, 1, parts).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        F.pmod(F.col("id"), F.lit(25)).cast("int").alias("c_nationkey"),
        (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 100.0).alias("c_acctbal"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")]),
            (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int"),
        ).alias("c_mktsegment"),
    )
    cust.write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))

    # documents: texts_range_df's planted dup structure (exact every 5th,
    # mutated every 7th — linear pair counts at every scale)
    texts = synth.texts_range_df(spark, N_DOCUMENTS, partitions=parts)
    langs = F.array(*[F.lit(s) for s in ("en", "es", "de", "fr", "sr")])
    docs = texts.select(
        "doc_id",
        "text",
        F.element_at(langs, (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int")).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("doc_id"), F.lit(20))).alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    # embeddings: 64-dim unit-free float vectors, 10 labels; vec_id 0..N-1
    # so vec_id < N_QUERIES keeps forming the ANN query set
    emb = spark.range(0, N_EMBEDDINGS, 1, parts).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: (
                (F.pmod(F.xxhash64(F.col("id") * 131 + i.cast("long")), F.lit(2000)) - 1000)
                / 1000.0
            ).cast("float"),
        ).alias("embedding"),
        F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
    )
    emb.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    # events: 30-day span, 5 types, 150 k users — same marginals as the
    # driver table, 100× the rows
    types = F.array(*[F.lit(s) for s in ("signup", "click", "error", "view", "purchase")])
    ev = spark.range(0, N_EVENTS, 1, parts).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_704_067_200_000_000)  # 2024-01-01 UTC
            + F.pmod(F.xxhash64(F.col("id") * 7 + 1), F.lit(30 * 86_400_000_000))
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") * 13 + 2), F.lit(N_USERS)).alias("user_id"),
        F.element_at(
            types, (F.pmod(F.xxhash64(F.col("id") * 17 + 3), F.lit(5)) + 1).cast("int")
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") * 19 + 4), F.lit(56021)) / 100.0).alias("value"),
        F.concat(
            F.lit('{"k": '), F.pmod(F.col("id"), F.lit(100)), F.lit("}")
        ).alias("props"),
    )
    ev.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    open(os.path.join(out, "_PROXY_READY"), "w").close()


def main():
    # one 32-thread JVM sorting 1.5 M-doc windows: size the heap like 32
    # executor cores would be. The sf0.1 default (8g) was a marginal fit at
    # 100× — r7's added ingest builds (simhash + IVF tables) in the same JVM
    # pushed the kNN window sort into Java-heap OOM, killing the context.
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")

    from __spark_entry__ import queries
    from serbian_osm_lint_spark.session import default_cpus, get_spark
    from serbian_osm_lint_spark.operators import dedup, similarity
    from serbian_osm_lint_spark.sources import catalog

    cpus = default_cpus()
    spark = get_spark("bench100x", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out = proxy_dir()
    if "--rebuild" in sys.argv or not os.path.exists(os.path.join(out, "_PROXY_READY")):
        t0 = time.perf_counter()
        build_proxy(spark, out, cpus)
        print(f"# built 100x proxy in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    n_docs = catalog.docs_table(spark, out).count()  # untimed materialization/scan warm
    dedup.minhash_sig_table(spark, out)  # untimed, like bench.py
    dedup.simhash_sig_table(spark, out)  # untimed ingest write (r7)
    similarity.ivf_assignment_table(spark, out)  # untimed ingest write (r7)
    similarity.pq_code_table(spark, out)  # untimed ingest encode (r7)

    registry = queries()
    bench.calibrate(spark)
    calib_before = bench.calibrate(spark)
    timings, samples = {}, {}
    for name in QUERIES:
        fn = registry[name]
        bench.consume(fn(spark, out))
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            bench.consume(fn(spark, out))
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = round(statistics.median(runs), 3)
        samples[name] = runs
        print(f"# {name}: {timings[name]}s {runs}", file=sys.stderr)

    # streamed near-dup wave (VERDICT r6 item 6): 5 k novel arrivals in 3
    # micro-batches against a signature store seeded with the FULL 550 k-doc
    # corpus — surfaces any per-micro-batch driver cost that the batch
    # queries amortize. Each run gets a fresh store (the seed partition is a
    # symlink to the cached signature table — no copy), fresh checkpoint.
    import shutil
    import tempfile

    from serbian_osm_lint_spark import synth
    from serbian_osm_lint_spark.streaming import stream

    seed_src = os.path.join(catalog._cache_root(), dedup.minhash_sig_key(out))
    assert os.path.exists(os.path.join(seed_src, "_SUCCESS")), seed_src
    arrivals_dir = os.path.join(catalog._cache_root(), "stream_wave_arrivals_v1")
    if not os.path.exists(os.path.join(arrivals_dir, "_WAVE_READY")):
        from pyspark.sql import functions as F

        wave = synth.texts_range_df(spark, 5_000).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        for i in range(3):
            wave.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
                "append"
            ).parquet(arrivals_dir)
        open(os.path.join(arrivals_dir, "_WAVE_READY"), "w").close()

    wave_runs = []
    for _ in range(N_RUNS):
        scratch = tempfile.mkdtemp(prefix="wave_", dir=catalog._cache_root())
        sig_dir = os.path.join(scratch, "sigs")
        os.makedirs(sig_dir)
        os.symlink(seed_src, os.path.join(sig_dir, "batch_id=-1"))
        t0 = time.perf_counter()
        n = stream.stream_near_dup_pairs_incremental(
            spark,
            arrivals_dir,
            sig_dir,
            os.path.join(scratch, "out"),
            os.path.join(scratch, "ckpt"),
        )
        wave_runs.append(round(time.perf_counter() - t0, 3))
        assert n == 3, f"expected 3 micro-batches, got {n}"
        shutil.rmtree(scratch, ignore_errors=True)
    timings["stream_near_dup_wave"] = round(statistics.median(wave_runs), 3)
    samples["stream_near_dup_wave"] = wave_runs
    print(
        f"# stream_near_dup_wave: {timings['stream_near_dup_wave']}s {wave_runs}",
        file=sys.stderr,
    )

    # streamed PQ ANN wave (r7): 1.5 k novel vectors in 3 micro-batches
    # against a code store seeded with the FULL 200 k-vector corpus — the
    # continuously-ingesting similarity-search topology at the 100× point.
    # Seed store carries (vec_id, v, codes, vnorm) like the streaming
    # store schema (vectors ride along for the by-id re-rank fetch).
    from pyspark.sql import functions as F

    def build_pq_seed():
        cents = similarity.data_centroids(spark, out)
        pv = spark.read.parquet(os.path.join(out, "embeddings.parquet")).select(
            "vec_id", similarity._to_double(F.col("embedding")).alias("v")
        )
        return similarity.pq_encode(pv, cents)

    pq_seed_key = f"pq_stream_seed_{SCALE}x_v1"
    catalog.cached_table(spark, pq_seed_key, build_pq_seed)  # untimed ingest
    pq_seed_src = os.path.join(catalog._cache_root(), pq_seed_key)
    pq_arrivals = os.path.join(catalog._cache_root(), "pq_wave_arrivals_v1")
    if not os.path.exists(os.path.join(pq_arrivals, "_WAVE_READY")):
        nov = spark.range(0, 1_500, 1, 4).select(
            (F.col("id") + 10_000_000).alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(similarity.EMB_DIM)),
                lambda i: (
                    (F.pmod(F.xxhash64(F.col("id") * 977 + i.cast("long")), F.lit(2000)) - 1000)
                    / 1000.0
                ).cast("float"),
            ).alias("embedding"),
            F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
        )
        for i in range(3):
            nov.filter(F.pmod("vec_id", F.lit(3)) == i).coalesce(1).write.mode(
                "append"
            ).parquet(pq_arrivals)
        open(os.path.join(pq_arrivals, "_WAVE_READY"), "w").close()

    pq_wave_runs = []
    for _ in range(N_RUNS):
        scratch = tempfile.mkdtemp(prefix="pqwave_", dir=catalog._cache_root())
        store_dir = os.path.join(scratch, "store")
        os.makedirs(store_dir)
        os.symlink(pq_seed_src, os.path.join(store_dir, "batch_id=-1"))
        t0 = time.perf_counter()
        n = stream.stream_ann_pq_incremental(
            spark,
            pq_arrivals,
            store_dir,
            os.path.join(scratch, "out"),
            os.path.join(scratch, "ckpt"),
            out,
        )
        pq_wave_runs.append(round(time.perf_counter() - t0, 3))
        assert n == 3, f"expected 3 micro-batches, got {n}"
        shutil.rmtree(scratch, ignore_errors=True)
    timings["stream_pq_ann_wave"] = round(statistics.median(pq_wave_runs), 3)
    samples["stream_pq_ann_wave"] = pq_wave_runs
    print(
        f"# stream_pq_ann_wave: {timings['stream_pq_ann_wave']}s {pq_wave_runs}",
        file=sys.stderr,
    )

    calib_after = bench.calibrate(spark)
    contended = max(calib_before, calib_after) > bench.CONTENDED_FACTOR * bench.CALIB_QUIET_S

    lint_tile = timings["lint_verdicts"] + timings["tile_assignment"]
    print(
        json.dumps(
            {
                "metric": "100x-proxy lint+tile throughput",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "runs": samples,
                "regime": "contended" if contended else "quiet",
                "calibration_s": {"before": calib_before, "after": calib_after},
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "sf": out,
                "scale_vs_sf0.1": SCALE,
                "cpus": cpus,
                "n_docs": n_docs,
                "docs_per_sec": round(n_docs / lint_tile, 1) if lint_tile else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
