# -*- coding: utf-8 -*-
"""Report aggregations and the per-map merge.

Spark re-expression of the reference's driver-side dict counting in
``generate_report`` (``src/main.py:44-123``):

* A1 per-map counts (``:52-68``): distinct checked entities, error rows,
  fixable-error rows — a single ``groupBy(map_name)``. Partial (map-side)
  aggregation is free; the shuffle key cardinality is #maps.
* A2 global summary (``:66-76``): a second tiny agg over A1's output.
* A3 per-check-type counts (``:78-92``): ``groupBy(check_name)`` with the
  explanation from a literal registry (the reference ``eval``s the class
  name to read ``__doc__`` — ``src/main.py:84-85``; we never eval).
* J7/U3 first-wins merge (``:95-112``): results from N sources regrouped
  under the overall map name (text before ``' ('``); on (entity, check)
  collision the first-seen source wins — a window dedup, i.e.
  union-distinct with priority, not a plain ``dropDuplicates``.
"""

from __future__ import annotations

from ..session import local_df

#: check explanations — literal registry replacing the reference's
#: ``eval(type_check).__doc__`` (src/main.py:84-85).
CHECK_EXPLANATIONS = {
    "checks.NameMissingCheck": "Checks that 'name' tag is present in entity.",
    "checks.NameCyrillicCheck": "Checks that name of the entity is in cyrillic script.",
    "checks.LatinNameExistsCheck": "Checks that for entity exists name in sr-Latn too.",
    "checks.LatinNameSameAsCyrillicCheck": (
        "If cyrillic name and sr-Latn name tags exists, checks that cyrillic name is "
        "transliterated equivalently to sr-Latn."
    ),
    "checks.LatinNameNotInCyrillicCheck": "Check that sr-Latn name in tags is not in cyrillic script.",
    "checks.WikipediaEntryExistsCheck": "Check that there exists Wikipedia entry for entity.",
    "checks.WikipediaEntryIsInSerbianCheck": (
        "Check that Wikipedia entry for entity is in local Wikipedia, e.g. Serbian."
    ),
    "checks.WikipediaEntryValidCheck": (
        "Checks that Wikipedia entry for a given entity actually exists in Wikipedia."
    ),
    "checks.WikidataEntryExistsCheck": "Check that there exists Wikidata entry for entity.",
    "checks.WikidataEntryValidCheck": (
        "Checks that Wikidata entry for a given entity actually exists in Wikidata."
    ),
    "checks.WikipediaAndWikidataInSyncCheck": (
        "If both Wikipedia and Wikidata entry do exist, checks that Wikidata entry links "
        "to Wikipedia entry."
    ),
    "checks.IsInCountryCheck": 'Checks that there exists "is_in:country" tag',
    "checks_extended.RemoveLatinName": (
        "Checks that looks for name:sr-Latn tag and removes them if it exists. "
        "Not part of standard suite."
    ),
}


def per_map_report_df(verdicts):
    """A1: per map — entities checked, error count, fixable error count."""
    from pyspark.sql import functions as F

    err = (F.col("result") == "CHECKED_ERROR").cast("long")
    return (
        verdicts.groupBy("map_name")
        .agg(
            F.countDistinct("doc_id").alias("count_map_checks"),
            F.sum(err).alias("count_map_errors"),
            F.sum(err * F.col("fixable").cast("long")).alias("count_map_fixable_errors"),
        )
        .orderBy("map_name")
    )


def summary_report_df(verdicts):
    """A2: global totals + map count (agg over A1 — two-phase for free)."""
    from pyspark.sql import functions as F

    return per_map_report_df(verdicts).agg(
        F.count("*").alias("maps"),
        F.sum("count_map_checks").alias("count_total_checks"),
        F.sum("count_map_errors").alias("count_total_errors"),
        F.sum("count_map_fixable_errors").alias("count_total_fixable_errors"),
    )


def per_check_report_df(spark, verdicts):
    """A3: per check type — total evaluated, total not-OK, explanation."""
    from pyspark.sql import functions as F

    expl = local_df(
        spark, list(CHECK_EXPLANATIONS.items()), "check_name string, explanation string"
    )
    agg = verdicts.groupBy("check_name").agg(
        F.count("*").alias("count_total_checks"),
        F.sum((F.col("result") != "CHECKED_OK").cast("long")).alias("count_total_errors"),
    )
    return (
        agg.join(F.broadcast(expl), "check_name", "left")
        .select("check_name", "explanation", "count_total_checks", "count_total_errors")
        .orderBy("check_name")
    )


def merge_first_wins_df(verdicts):
    """J7/U3: regroup per-source maps under the overall map name with
    first-wins collision handling.

    The overall map is the text before ``' ('``; priority is the source
    rank = the full map name's sort order (deterministic stand-in for the
    reference's dict-iteration "existing entry wins" — ``src/main.py:105-112``).
    One shuffle on (overall_map, doc_id, check_name).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    overall = F.split_part(F.col("map_name"), F.lit(" ("), F.lit(1)).alias("overall_map")
    w = Window.partitionBy("overall_map", "doc_id", "check_name").orderBy("map_name")
    return (
        verdicts.select(overall, "*")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "overall_map",
            "doc_id",
            "entity_type",
            "display_name",
            "check_name",
            "result",
            "message",
            "fixable",
        )
    )


# ---------------------------------------------------------------------- sql
def sql_per_map_report(verdicts_sql: str) -> str:
    return (
        f"SELECT map_name, "
        f"count(DISTINCT doc_id) AS count_map_checks, "
        f"CAST(sum(CASE WHEN result = 'CHECKED_ERROR' THEN 1 ELSE 0 END) AS BIGINT) AS count_map_errors, "
        f"CAST(sum(CASE WHEN result = 'CHECKED_ERROR' AND fixable THEN 1 ELSE 0 END) AS BIGINT) AS count_map_fixable_errors "
        f"FROM ({verdicts_sql}) GROUP BY map_name ORDER BY map_name"
    )


def sql_summary_report(verdicts_sql: str) -> str:
    return (
        f"SELECT count(*) AS maps, CAST(sum(count_map_checks) AS BIGINT) AS count_total_checks, "
        f"CAST(sum(count_map_errors) AS BIGINT) AS count_total_errors, "
        f"CAST(sum(count_map_fixable_errors) AS BIGINT) AS count_total_fixable_errors "
        f"FROM ({sql_per_map_report(verdicts_sql)})"
    )


def sql_per_check_report(verdicts_sql: str) -> str:
    expl_values = ", ".join(
        "('" + k + "', '" + v.replace("'", "''") + "')" for k, v in CHECK_EXPLANATIONS.items()
    )
    return (
        f"WITH expl(check_name, explanation) AS (VALUES {expl_values}), "
        f"agg AS (SELECT check_name, count(*) AS count_total_checks, "
        f"CAST(sum(CASE WHEN result <> 'CHECKED_OK' THEN 1 ELSE 0 END) AS BIGINT) AS count_total_errors "
        f"FROM ({verdicts_sql}) GROUP BY check_name) "
        f"SELECT a.check_name, e.explanation, a.count_total_checks, a.count_total_errors "
        f"FROM agg a LEFT JOIN expl e ON a.check_name = e.check_name ORDER BY a.check_name"
    )


def sql_merge_first_wins(verdicts_sql: str) -> str:
    return (
        f"SELECT overall_map, doc_id, entity_type, display_name, check_name, "
        f"result, message, fixable FROM ("
        f"SELECT split_part(map_name, ' (', 1) AS overall_map, *, "
        f"row_number() OVER (PARTITION BY split_part(map_name, ' (', 1), doc_id, check_name "
        f"ORDER BY map_name) AS rn FROM ({verdicts_sql})) WHERE rn = 1"
    )
