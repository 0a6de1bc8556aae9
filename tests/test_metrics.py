# -*- coding: utf-8 -*-
"""S9 run metrics: observe() counters collected with each bucket's write
and recorded in its manifest marker."""

from conftest import SF_SMALL


def test_observation_metrics(spark, tmp_path):
    """Each bucket's manifest marker records the `verdict_metrics` counts,
    and they equal the counts over the stored result."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators.checks import lint_verdicts_df
    from serbian_osm_lint_spark.plans import lint_pipeline
    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.streaming import resume

    wiki, wd = catalog.dims_tables(spark, SF_SMALL)
    out = str(tmp_path / "out")
    resume.run_resumable(
        spark,
        catalog.docs_table(spark, SF_SMALL),
        lambda s, docs: lint_verdicts_df(s, docs, wiki, wd),
        out,
        metrics_fn=lint_pipeline.verdict_metrics,
    )
    lineage = resume.BucketManifest(f"{out}/_manifest").done_buckets()
    assert len(lineage) == catalog.N_DOC_BUCKETS
    counted = (
        resume.read_result(spark, out)
        .agg(
            F.count("*").alias("rows"),
            F.sum((F.col("result") == "CHECKED_ERROR").cast("long")).alias("n_errors"),
            F.sum(F.col("fixable").cast("long")).alias("n_fixable"),
        )
        .first()
    )
    for name in ("rows", "n_errors", "n_fixable"):
        assert sum(m[name] for m in lineage.values()) == counted[name], name
    assert counted["n_errors"] > 0 and counted["n_fixable"] > 0
