# -*- coding: utf-8 -*-
"""Checkpointed, resumable batch processing with per-partition lineage.

North-rule requirement: runs resume from checkpoints with per-partition
lineage + metrics. The unit of work is a deterministic hash bucket of
``doc_id`` (the parquet stand-in for Iceberg's ``bucket(doc_id)``
partition transform; with Iceberg jars the manifest maps 1:1 onto
snapshot ids). A manifest directory records one marker file per
completed bucket with its row count (lineage + metrics); a resumed run
anti-joins the manifest — only missing buckets are recomputed, and
re-writing a bucket is idempotent (``overwrite`` of that bucket's
subdirectory).

Determinism contract (SURVEY §7.3): the salt/bucket derives from
``doc_id`` content hash, never RNG or wall-clock, so a resume computes
byte-identical partitions.
"""

from __future__ import annotations

import json
import os


class BucketManifest:
    """Marker-file manifest: ``<dir>/bucket_<i>.done`` with JSON metrics."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def done_buckets(self) -> dict[int, dict]:
        out = {}
        for name in os.listdir(self.path):
            if name.startswith("bucket_") and name.endswith(".done"):
                b = int(name[len("bucket_") : -len(".done")])
                with open(os.path.join(self.path, name)) as fh:
                    out[b] = json.load(fh)
        return out

    def mark_done(self, bucket: int, metrics: dict) -> None:
        tmp = os.path.join(self.path, f".bucket_{bucket}.tmp")
        with open(tmp, "w") as fh:
            json.dump(metrics, fh)
        os.replace(tmp, os.path.join(self.path, f"bucket_{bucket}.done"))

    def claim_domain(self, n_buckets: int) -> None:
        """Record the bucket domain on first run; REJECT a re-run whose
        count differs (ADVICE r3: on the hash-fallback path a different
        ``n_buckets`` re-bucketing the same out_dir would union stale
        ``bucket=*`` dirs from the old domain — silent duplication)."""
        path = os.path.join(self.path, "domain.json")
        if os.path.exists(path):
            with open(path) as fh:
                stored = json.load(fh)["n_buckets"]
            if stored != n_buckets:
                raise ValueError(
                    f"out_dir was written with n_buckets={stored}; re-running "
                    f"with n_buckets={n_buckets} would mix bucket domains "
                    "(stale bucket=* outputs) — use a fresh out_dir"
                )
            return
        tmp = os.path.join(self.path, ".domain.tmp")
        with open(tmp, "w") as fh:
            json.dump({"n_buckets": n_buckets}, fh)
        os.replace(tmp, path)


def run_resumable(
    spark,
    docs,
    process_fn,
    out_dir: str,
    n_buckets: int | None = None,
    fail_after: int | None = None,
    max_concurrency: int = 4,
    metrics_fn=None,
):
    """Process ``docs`` bucket-by-bucket with resume.

    ``process_fn(spark, docs_subset) -> DataFrame`` is the per-bucket
    pipeline (e.g. lint verdicts). Completed buckets are skipped on
    re-run. ``fail_after=k`` aborts after k buckets (test hook for
    kill/resume; forces serial execution so "after k buckets" is
    deterministic). Returns the number of buckets processed this run.

    Bucket-count contract: when ``docs`` carries the STORED ``bucket_id``
    partition column, the bucket domain is fixed at write time
    (``catalog.N_DOC_BUCKETS``) — the loop bound derives from the
    catalog, and a caller-passed ``n_buckets`` that disagrees raises
    instead of silently never processing buckets ``n_buckets..N-1``
    (data loss). Only the ad-hoc hash fallback (un-partitioned input,
    ``pmod(xxhash64(doc_id), n)``) honors a caller-chosen count.

    Pruning: on the stored path the per-bucket filter is a PARTITION
    filter — each bucket's run reads only that bucket's files.

    Metrics: per-bucket row counts are captured DURING the write via
    ``df.observe`` (an ``Observation`` per bucket) — the output is never
    re-read to count it (the old ``read.count()`` was a second full pass
    over everything written). Pending buckets are submitted from a small
    thread pool: Spark schedules concurrent jobs fine, so the cluster
    isn't idle between bucket jobs; each bucket's manifest marker is
    still written only after ITS write completes (kill-safety unchanged).

    ``metrics_fn(result_df) -> dict[name, Column]`` (optional) adds
    operator-specific aggregates to each bucket's Observation — e.g. the
    media quarantine count ``{"quarantined": F.count("decode_error")}``
    — so a stage that quarantines rows records them in the bucket's
    manifest JSON (VERDICT r5 item 7), still in the ONE write action.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    manifest = BucketManifest(os.path.join(out_dir, "_manifest"))
    done = set(manifest.done_buckets())
    if "bucket_id" in docs.columns:
        from ..sources import catalog

        stored_n = catalog.N_DOC_BUCKETS
        if n_buckets is not None and n_buckets != stored_n:
            raise ValueError(
                f"docs carries the stored bucket_id column with "
                f"{stored_n} buckets; n_buckets={n_buckets} would skip "
                f"buckets {min(n_buckets, stored_n)}..{stored_n - 1}"
            )
        n_buckets = stored_n
        bucket_col = "bucket_id"
        bucketed = docs
    else:
        n_buckets = 8 if n_buckets is None else n_buckets
        bucket_col = "_bucket"
        bucketed = docs.withColumn(
            "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
        )

    manifest.claim_domain(n_buckets)

    def run_bucket(b: int) -> int:
        # per-bucket FAIR pool (pool name is a thread-local property):
        # under the session's FAIR scheduler each bucket's jobs share
        # executors instead of one large early bucket starving the rest
        # in the default pool's FIFO order.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"resume_{b}")
        try:
            subset = bucketed.filter(F.col(bucket_col) == b).drop(bucket_col)
            result = process_fn(spark, subset)
            extra = metrics_fn(result) if metrics_fn is not None else {}
            obs = Observation()
            observed = result.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                *[c.alias(name) for name, c in extra.items()],
            )
            path = os.path.join(out_dir, f"bucket={b}")
            observed.write.mode("overwrite").parquet(path)
            got = obs.get
            manifest.mark_done(
                b,
                {"rows": got["rows"], "bucket": b}
                | {name: got[name] for name in extra},
            )
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        return b

    pending = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        processed = 0
        for b in pending:
            run_bucket(b)
            processed += 1
            if processed >= fail_after:
                raise RuntimeError(f"injected failure after {processed} buckets")
        return processed
    if not pending:
        return 0
    with ThreadPoolExecutor(max_workers=min(max_concurrency, len(pending))) as pool:
        return len(list(pool.map(run_bucket, pending)))


def read_result(spark, out_dir: str):
    """Union of all completed bucket outputs (discovered by glob, so no
    bucket count is needed to find them)."""
    import glob

    paths = [
        p
        for p in sorted(glob.glob(os.path.join(out_dir, "bucket=*")))
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]
    return spark.read.parquet(*paths)
