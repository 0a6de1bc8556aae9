# -*- coding: utf-8 -*-
"""End-to-end lint pipeline assembly (the reference's ``src/main.py``
lifecycle as one lazy DataFrame DAG: scan → project → check-select →
aggregate; SURVEY §3.1)."""

from __future__ import annotations

from .. import synth
from ..operators import checks
from ..sources import catalog


def build_verdicts(spark, sf_dir: str):
    """stored docs + dims + checks → long verdict table (lazy scan-based)."""
    docs = catalog.docs_table(spark, sf_dir)
    wiki, wd = catalog.dims_tables(spark, sf_dir)
    return checks.lint_verdicts_df(spark, docs, wiki, wd)


def sql_verdicts() -> str:
    return checks.sql_lint_verdicts(
        synth.sql_scalar_tags(), synth.sql_wiki_pages(), synth.sql_wikidata_items()
    )


def verdict_metrics(verdicts) -> dict:
    """S9: run metrics for ``observe()`` — the Spark-native replacement
    for the reference's every-100k progress counter (``src/sources/
    osm_source.py:28-30``). Pass as ``metrics_fn`` to
    :func:`..streaming.resume.run_resumable`: each bucket's manifest then
    records its error and fixable-error counts next to its row count,
    collected with the bucket's one write action."""
    from pyspark.sql import functions as F

    return {
        "n_errors": F.count(F.when(verdicts["result"] == "CHECKED_ERROR", 1)),
        "n_fixable": F.count(F.when(verdicts["fixable"], 1)),
    }
