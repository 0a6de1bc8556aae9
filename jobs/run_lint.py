#!/usr/bin/env python
"""spark-submit entry point: full lint pipeline with metrics + resume.

Usage:
  scripts/package.sh   # builds dist/serbian_osm_lint_spark.zip
  spark-submit --driver-memory 8g --py-files dist/serbian_osm_lint_spark.zip jobs/run_lint.py \
      --sf-dir /root/testdata/sf0.01 --out /tmp/lint_out [--report]

``--driver-memory`` is required: spark-submit launches the driver JVM
before this script runs, so no heap set from inside the app — such as
the default ``session.get_spark`` gives local runs — can apply to it.

The job writes the long verdict table (bucket-partitioned; re-running
with the same ``--out`` resumes, skipping the buckets the manifest in
<out>/_manifest marks done) and prints run metrics (S9: the Spark
equivalent of the reference's every-100k progress counter —
``src/sources/osm_source.py:28-30`` — is each bucket's observe() row,
error and fixable-error counts in its manifest marker, plus their
totals).
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--report", action="store_true", help="print report aggregates")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("serbian-osm-lint-spark").getOrCreate()

    from serbian_osm_lint_spark.operators import report
    from serbian_osm_lint_spark.operators.checks import lint_verdicts_df
    from serbian_osm_lint_spark.plans.lint_pipeline import verdict_metrics
    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.streaming import resume

    wiki, wd = catalog.dims_tables(spark, args.sf_dir)

    def process(s, docs_subset):
        return lint_verdicts_df(s, docs_subset, wiki, wd)

    docs = catalog.docs_table(spark, args.sf_dir)
    # the stored doc table fixes the bucket domain (catalog.N_DOC_BUCKETS)
    processed = resume.run_resumable(
        spark, docs, process, args.out, metrics_fn=verdict_metrics
    )
    manifest = resume.BucketManifest(f"{args.out}/_manifest")
    lineage = manifest.done_buckets()
    verdicts = resume.read_result(spark, args.out)
    metrics = {
        "buckets_processed_this_run": processed,
        "buckets_total": len(lineage),
        "rows_per_bucket": {str(b): m["rows"] for b, m in sorted(lineage.items())},
        "total_verdicts": sum(m["rows"] for m in lineage.values()),
    }
    for name in ("n_errors", "n_fixable"):
        # None when a bucket was done by an older run that did not count it
        per_bucket = [m.get(name) for m in lineage.values()]
        metrics[f"total_{name[2:]}"] = None if None in per_bucket else sum(per_bucket)
    print(json.dumps(metrics))

    if args.report:
        for row in report.per_map_report_df(verdicts).collect():
            print(json.dumps(row.asDict()))
        print(json.dumps(report.summary_report_df(verdicts).collect()[0].asDict()))
    spark.stop()


if __name__ == "__main__":
    main()
