# -*- coding: utf-8 -*-
"""The check library: reference checks C1–C12/C14 as Catalyst expressions.

Each check re-expresses the verdict condition and message of one
reference check class (citations per check below) as pure Column
expressions over the entity projection (tags map + coords + dims).
The engine output is the long-format verdict table
``(doc_id, map_name, check_name, result, message, fixable)`` — the Spark
equivalent of ``CheckEngine.check_all`` (reference ``src/engine.py:49-86``)
with NOT_APPLICABLE rows filtered (``:79-86``): only applicable entities
(``place ∈ {city, town, village}``, exact case — reference
``src/applicability.py:17-41``, case-sensitivity proven by
``test/test_applicability.py:27-28``) appear, one row per (entity, map,
check).

External-knowledge checks (C8/C10/C11) are **broadcast left joins**
against static wiki/wikidata snapshot dimensions instead of the
reference's per-entity network fetch + ``local_store`` memoization
(``src/checks.py:522-543,631``): the join evaluates each lookup once.
C11's hidden state dependency on C10 (``src/checks.py:654``) becomes an
explicit join: C11 is only evaluated where C10's item resolved.

Documented deviations from reference messages (stable-data variants of
Python-object reprs):
  * C1 drops the trailing ``: {entity}`` repr
    (``src/checks.py:204``) — the entity repr is a Python ``__str__``.
All other message templates are byte-identical to the cited ``format``
strings.

The verdict table, the proposed fixes (:mod:`.fixes`) and the guess walk
(:mod:`.wikiwalk`) start from one lint-entity frame (:func:`lint_frame`)
and read one set of check predicates (:func:`lint_checks`), so a fix
gate is the very condition its check reports.

Scale notes: the whole verdict computation is one projection + two
broadcast joins + one explode — no shuffle until aggregation. At 10^12
docs the plan is scan → codegen select → explode, embarrassingly
partition-parallel.
"""

from __future__ import annotations

from collections import namedtuple

from ..functions.translit import (
    cyr2lat_col,
    has_cyrillic_col,
    sql_cyr2lat,
    sql_has_cyrillic,
)
from ..functions.geo import haversine_km_col, sql_haversine_km
from .spans import FLAT_KEYS, with_flat_entity

#: (overall map, source) pairs the default run evaluates — the analogue of
#: the reference config's map×check-suite expansion (``src/main.py:172-182``).
DEFAULT_MAPS = [
    ("Serbia checks (synth)", True),
    ("Atlantida checks (synth)", False),
]

APPLICABLE_PLACES = ("city", "town", "village")

CHECK_MODULE = "checks"

#: the reference's place-infobox template list (src/checks.py:539-540),
#: joined as in the CalculateDistanceException message (src/checks.py:31-33).
VALID_BOXES = "Насељено место у Србији,Град у Србији,Градска четврт"


#: one check over the lint-entity frame: ``err`` is the raw (nullable)
#: error condition, a row errs where ``coalesce(err, false)``; ``gate`` is
#: the reference's early ``return ''`` (the check is evaluated only under
#: it), set where a fix reads what the check found (C8).
Check = namedtuple("Check", "err message fixable gate", defaults=(None,))


def _t(key):
    from pyspark.sql import functions as F

    return F.col(FLAT_KEYS[key][0])


def _has(key):
    from pyspark.sql import functions as F

    return F.col(FLAT_KEYS[key][1])


def auth_name():
    """The map's authoritative name: ``name`` on the Serbia map,
    ``name:sr`` elsewhere (``src/checks.py:409-410``)."""
    from pyspark.sql import functions as F

    return F.when(F.col("is_serbia"), _t("name")).otherwise(_t("name:sr"))


def with_wiki_page(df, wiki_pages):
    """Broadcast left join of the page the ``wikipedia`` tag names
    (``wp_title``; page titles are unique) — adds ``w_title`` and the page
    columns."""
    from pyspark.sql import functions as F

    df = df.withColumn("wp_title", F.when(_has("wikipedia"), F.expr("substring(a_wp, 4)")))
    return df.join(
        F.broadcast(wiki_pages).withColumnRenamed("title", "w_title"),
        df["wp_title"] == F.col("w_title"),
        "left",
    )


def lint_frame(docs, maps=DEFAULT_MAPS, wiki_pages=None, wikidata_items=None):
    """The lint-entity frame every lint operator starts from: one row per
    (applicable entity, map) with :func:`with_flat_entity`'s columns plus
    ``map_name`` and ``is_serbia``. Dims given here are joined once per
    entity, before the map explode (broadcast left joins; wiki titles and
    wikidata q-ids are unique)."""
    from pyspark.sql import functions as F

    # fast-path flat extraction of the well-known keys (see spans.py —
    # ~2x cheaper than map decode, and it keeps every projection small
    # enough for codegen).
    base = with_flat_entity(docs).filter(_t("place").isin(*APPLICABLE_PLACES))
    if wiki_pages is not None:
        base = with_wiki_page(base, wiki_pages)
    if wikidata_items is not None:
        base = base.join(
            F.broadcast(wikidata_items).withColumnRenamed("q_id", "wd_q"),
            _t("wikidata") == F.col("wd_q"),
            "left",
        )
    # map expansion as an exploded literal array instead of a crossJoin:
    # BroadcastNestedLoopJoin blocks whole-stage codegen; Generate doesn't.
    maps_structs = F.array(
        *[
            F.struct(F.lit(m).alias("map_name"), F.lit(s).alias("is_serbia"))
            for m, s in maps
        ]
    )
    return (
        base.select("*", F.explode(maps_structs).alias("_m"))
        .select("*", F.col("_m.map_name").alias("map_name"), F.col("_m.is_serbia").alias("is_serbia"))
        .drop("_m")
    )


def with_check_layer(df):
    """``auth_lat`` (the transliterated authoritative name) and ``w_dist``
    (entity ↔ linked page, km) in their own projection layer.

    Keep shared expensive intermediates (transliteration chain, trig) in
    their own layer: the original single giant projection (13 structs x
    tag lookups x the 60-replace chain) fell out of whole-stage codegen
    and ran interpreted (~20x slower, measured). Layered small
    projections evaluate each shared expression once."""
    from pyspark.sql import functions as F

    return df.withColumn("auth_lat", cyr2lat_col(auth_name())).withColumn(
        "w_dist",
        haversine_km_col(F.col("lat"), F.col("lon"), F.col("w_lat"), F.col("w_lon")),
    )


def lint_checks() -> dict[str, Check]:
    """Every check's error predicate, message and fixability over the
    lint frame (wiki + wikidata joined) and :func:`with_check_layer`, keyed
    by check name in verdict order. The fix gates of
    :mod:`.fixes` and :mod:`.wikiwalk` are these predicates too."""
    from pyspark.sql import functions as F

    is_serbia = F.col("is_serbia")
    t, has = _t, _has

    def nonempty(key):
        return F.coalesce(t(key), F.lit("")) != ""

    place_type = F.coalesce(t("place"), F.lit("(unknown place type)"))
    name_or_id = F.when(has("name"), t("name")).otherwise(F.col("osm_id"))
    excl = has("is_in:country") & (t("is_in:country") != "Serbia")
    latn = t("name:sr-Latn")

    checks = {}

    def add(cls_name, err_cond, message, fixable, gate=None, module=CHECK_MODULE):
        checks[f"{module}.{cls_name}"] = Check(err_cond, message, fixable, gate)

    # C1 — NameMissingCheck (src/checks.py:192-205)
    add(
        "NameMissingCheck",
        ~nonempty("name"),
        F.format_string("Name missing for %s with id %s", place_type, F.col("osm_id")),
        False,
    )

    # C2 — NameCyrillicCheck (src/checks.py:208-231)
    c2_eval = F.when(is_serbia, nonempty("name") & ~excl).otherwise(nonempty("name:sr"))
    c2_name = auth_name()
    add(
        "NameCyrillicCheck",
        c2_eval & ~has_cyrillic_col(c2_name),
        F.format_string('Seems that %s name is not in cyrillic for "%s"', place_type, c2_name),
        False,
    )

    # C3 — LatinNameExistsCheck (src/checks.py:234-296)
    add(
        "LatinNameExistsCheck",
        F.when(is_serbia, ~nonempty("name:sr-Latn")).otherwise(
            ~nonempty("name:sr-Latn") & has("name:sr")
        ),
        F.format_string("Latin name missing for %s %s", place_type, name_or_id),
        True,
    )

    # C4 — LatinNameSameAsCyrillicCheck (src/checks.py:299-356)
    c4_cyr = auth_name()
    c4_eval = (
        F.when(is_serbia, has("name")).otherwise(has("name:sr"))
        & has("name:sr-Latn")
        & ~excl
    )
    add(
        "LatinNameSameAsCyrillicCheck",
        c4_eval & (F.col("auth_lat") != latn),
        F.format_string(
            "Latin name %s for %s %s is not properly transliterated", latn, place_type, c4_cyr
        ),
        True,
    )

    # C5 — LatinNameNotInCyrillicCheck (src/checks.py:359-377)
    add(
        "LatinNameNotInCyrillicCheck",
        has("name") & has("name:sr-Latn") & has_cyrillic_col(latn),
        F.format_string(
            "There is cyrillic in %s name %s for latin version %s", place_type, name_or_id, latn
        ),
        False,
    )

    # C6 — WikipediaEntryExistsCheck (src/checks.py:380-432)
    add(
        "WikipediaEntryExistsCheck",
        ~excl & ~has("wikipedia"),
        F.format_string("Wikipedia missing for %s %s", place_type, name_or_id),
        True,
    )

    # C7 — WikipediaEntryIsInSerbianCheck (src/checks.py:435-495)
    add(
        "WikipediaEntryIsInSerbianCheck",
        has("wikipedia") & ~excl & ~t("wikipedia").startswith("sr:"),
        F.format_string(
            "Wikipedia entry is %s and is not in Serbian for %s %s",
            t("wikipedia"),
            place_type,
            name_or_id,
        ),
        True,
    )

    # C8 — WikipediaEntryValidCheck (src/checks.py:498-551) + distance gate
    # (src/checks.py:19-43): page-missing / no-valid-infobox / missing-
    # coords / >20 km, in the reference's precedence order.
    c8_gate = has("name") & has("wikipedia") & t("wikipedia").startswith("sr:") & ~excl
    dist = F.col("w_dist")
    c8_err = c8_gate & (
        F.col("w_title").isNull()
        | ~F.col("has_box")
        | F.col("w_lat").isNull()
        | (dist > 20.0)
    )
    c8_msg = (
        F.when(
            F.col("w_title").isNull(),
            F.format_string(
                "Wikipedia entry %s is not valid for %s %s",
                F.col("wp_title"),
                place_type,
                name_or_id,
            ),
        )
        .when(
            ~F.col("has_box"),
            F.format_string(
                "Cannot calculate distance as Wikipedia article %s does not contain any of valid boxes %s",
                F.col("wp_title"),
                F.lit(VALID_BOXES),
            ),
        )
        .when(
            F.col("w_lat").isNull(),
            F.format_string(
                "Wikipedia entry %s is missing latitude or longitude", F.col("wp_title")
            ),
        )
        .otherwise(
            F.format_string(
                "Wikipedia and OSM entries are more than 20km apart (%.2f km) for place %s.",
                dist,
                name_or_id,
            )
        )
    )
    add("WikipediaEntryValidCheck", c8_err, c8_msg, False, gate=c8_gate)

    # C9 — WikidataEntryExistsCheck (src/checks.py:554-607)
    add(
        "WikidataEntryExistsCheck",
        ~excl & ~has("wikidata"),
        F.format_string("Wikidata missing for %s %s", place_type, name_or_id),
        True,
    )

    # C10 — WikidataEntryValidCheck (src/checks.py:610-632): dangling item
    # ⇔ no dim row (the analogue of pageid == 0).
    add(
        "WikidataEntryValidCheck",
        has("wikidata") & ~excl & F.col("wd_q").isNull(),
        F.format_string(
            "Wikidata entry %s for %s %s wrong", t("wikidata"), place_type, name_or_id
        ),
        False,
    )

    # C11 — WikipediaAndWikidataInSyncCheck (src/checks.py:635-661); the
    # reference's implicit local_store dependency on C10 is the explicit
    # wd join here — only resolved items are compared.
    add(
        "WikipediaAndWikidataInSyncCheck",
        has("wikipedia")
        & has("wikidata")
        & ~excl
        & F.col("wd_q").isNotNull()
        & F.col("label_sr").isNotNull()
        & (F.col("label_sr") != F.col("wp_title")),
        F.format_string(
            "Wikidata entry %s for %s %s doesn't match wikipedia entry (%s)for it",
            t("wikidata"),
            place_type,
            name_or_id,
            t("wikipedia"),
        ),
        False,
    )

    # C12 — IsInCountryCheck (src/checks.py:664-698)
    add(
        "IsInCountryCheck",
        ~has("is_in:country"),
        F.format_string("is_in:country missing for %s %s", place_type, name_or_id),
        True,
    )

    # C14 — RemoveLatinName (src/checks_extended.py:11-26; message reuse
    # quirk of the reference kept verbatim).
    add(
        "RemoveLatinName",
        nonempty("name:sr-Latn"),
        F.format_string("Latin name missing for %s %s", place_type, name_or_id),
        True,
        module="checks_extended",
    )
    return checks


def lint_verdicts_df(spark, docs, wiki_pages, wikidata_items, maps=DEFAULT_MAPS):
    """Long-format verdict table for all checks over all maps.

    ``docs`` is the interleaved document table; dims are small and
    broadcast. Returns columns (doc_id, entity_type, display_name,
    map_name, check_name, result, message, fixable) — entity_type and
    display_name follow reference ``src/sources/osm_source.py:40-43``
    (name or id, with ``' / ' + name:sr`` appended when present).
    """
    from pyspark.sql import functions as F

    base = with_check_layer(lint_frame(docs, maps, wiki_pages, wikidata_items))
    t, has = _t, _has

    verdicts = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.when(F.coalesce(cond, F.lit(False)), F.lit("CHECKED_ERROR"))
                .otherwise(F.lit("CHECKED_OK"))
                .alias("result"),
                F.when(F.coalesce(cond, F.lit(False)), msg).otherwise(F.lit("")).alias("message"),
                F.when(F.coalesce(cond, F.lit(False)), F.lit(fixable))
                .otherwise(F.lit(False))
                .alias("fixable"),
            )
            for name, (cond, msg, fixable, _gate) in lint_checks().items()
        ]
    )
    # display name (reference src/sources/osm_source.py:40-43): name if the
    # tag is PRESENT (even empty) else the numeric id; ' / name:sr' appended
    # when present. The report's entity listing sorts on this.
    disp_base = F.when(has("name"), t("name")).otherwise(F.col("osm_id"))
    display_name = F.when(
        has("name:sr"), F.concat(disp_base, F.lit(" / "), t("name:sr"))
    ).otherwise(disp_base)

    out = base.select(
        "doc_id",
        "entity_type",
        display_name.alias("display_name"),
        "map_name",
        F.explode(verdicts).alias("v"),
    ).select(
        "doc_id",
        "entity_type",
        "display_name",
        "map_name",
        F.col("v.check_name").alias("check_name"),
        F.col("v.result").alias("result"),
        F.col("v.message").alias("message"),
        F.col("v.fixable").alias("fixable"),
    )
    return out


# ---------------------------------------------------------------------- sql
def sql_lint_verdicts(docs_sql: str, wiki_sql: str, wd_sql: str, maps=DEFAULT_MAPS) -> str:
    """Independent DuckDB twin of :func:`lint_verdicts_df` (oracle)."""
    maps_values = ", ".join(
        f"('{m}', {'true' if s else 'false'})" for m, s in maps
    )
    cyrcls = sql_has_cyrillic  # shorthand

    place_type = "coalesce(d.place, '(unknown place type)')"
    name_or_id = "CASE WHEN d.name IS NOT NULL THEN d.name ELSE CAST(d.k AS VARCHAR) END"
    excl = "(d.is_in_country IS NOT NULL AND d.is_in_country <> 'Serbia')"
    nonempty = lambda c: f"(coalesce(d.{c}, '') <> '')"  # noqa: E731
    has = lambda c: f"(d.{c} IS NOT NULL)"  # noqa: E731
    wp_title = "substring(d.wikipedia, 4)"
    dist = sql_haversine_km("d.lat", "d.lon", "w.w_lat", "w.w_lon")

    c2_eval = (
        f"(CASE WHEN m.is_serbia THEN ({nonempty('name')} AND NOT {excl}) "
        f"ELSE {nonempty('name_sr')} END)"
    )
    c2_name = "(CASE WHEN m.is_serbia THEN d.name ELSE d.name_sr END)"
    c4_cyr = c2_name
    c4_eval = (
        f"((CASE WHEN m.is_serbia THEN {has('name')} ELSE {has('name_sr')} END) "
        f"AND {has('name_sr_latn')} AND NOT {excl})"
    )

    rows = [
        (
            "checks.NameMissingCheck",
            f"(NOT {nonempty('name')})",
            f"printf('Name missing for %s with id %s', {place_type}, CAST(d.k AS VARCHAR))",
            "false",
        ),
        (
            "checks.NameCyrillicCheck",
            f"({c2_eval} AND NOT {cyrcls(c2_name)})",
            f"printf('Seems that %s name is not in cyrillic for \"%s\"', {place_type}, {c2_name})",
            "false",
        ),
        (
            "checks.LatinNameExistsCheck",
            f"(CASE WHEN m.is_serbia THEN NOT {nonempty('name_sr_latn')} "
            f"ELSE (NOT {nonempty('name_sr_latn')} AND {has('name_sr')}) END)",
            f"printf('Latin name missing for %s %s', {place_type}, {name_or_id})",
            "true",
        ),
        (
            "checks.LatinNameSameAsCyrillicCheck",
            f"({c4_eval} AND {sql_cyr2lat(c4_cyr)} <> d.name_sr_latn)",
            f"printf('Latin name %s for %s %s is not properly transliterated', "
            f"d.name_sr_latn, {place_type}, {c4_cyr})",
            "true",
        ),
        (
            "checks.LatinNameNotInCyrillicCheck",
            f"({has('name')} AND {has('name_sr_latn')} AND {cyrcls('d.name_sr_latn')})",
            f"printf('There is cyrillic in %s name %s for latin version %s', "
            f"{place_type}, {name_or_id}, d.name_sr_latn)",
            "false",
        ),
        (
            "checks.WikipediaEntryExistsCheck",
            f"(NOT {excl} AND NOT {has('wikipedia')})",
            f"printf('Wikipedia missing for %s %s', {place_type}, {name_or_id})",
            "true",
        ),
        (
            "checks.WikipediaEntryIsInSerbianCheck",
            f"({has('wikipedia')} AND NOT {excl} AND NOT starts_with(d.wikipedia, 'sr:'))",
            f"printf('Wikipedia entry is %s and is not in Serbian for %s %s', "
            f"d.wikipedia, {place_type}, {name_or_id})",
            "true",
        ),
        (
            "checks.WikipediaEntryValidCheck",
            f"({has('name')} AND {has('wikipedia')} AND starts_with(d.wikipedia, 'sr:') "
            f"AND NOT {excl} AND (w.title IS NULL OR NOT w.has_box OR w.w_lat IS NULL OR {dist} > 20.0))",
            f"(CASE WHEN w.title IS NULL THEN "
            f"printf('Wikipedia entry %s is not valid for %s %s', {wp_title}, {place_type}, {name_or_id}) "
            f"WHEN NOT w.has_box THEN "
            f"printf('Cannot calculate distance as Wikipedia article %s does not contain any of valid boxes {VALID_BOXES}', {wp_title}) "
            f"WHEN w.w_lat IS NULL THEN "
            f"printf('Wikipedia entry %s is missing latitude or longitude', {wp_title}) "
            f"ELSE printf('Wikipedia and OSM entries are more than 20km apart (%.2f km) for place %s.', "
            f"{dist}, {name_or_id}) END)",
            "false",
        ),
        (
            "checks.WikidataEntryExistsCheck",
            f"(NOT {excl} AND NOT {has('wikidata')})",
            f"printf('Wikidata missing for %s %s', {place_type}, {name_or_id})",
            "true",
        ),
        (
            "checks.WikidataEntryValidCheck",
            f"({has('wikidata')} AND NOT {excl} AND wd.q_id IS NULL)",
            f"printf('Wikidata entry %s for %s %s wrong', d.wikidata, {place_type}, {name_or_id})",
            "false",
        ),
        (
            "checks.WikipediaAndWikidataInSyncCheck",
            f"({has('wikipedia')} AND {has('wikidata')} AND NOT {excl} "
            f"AND wd.q_id IS NOT NULL AND wd.label_sr IS NOT NULL "
            f"AND wd.label_sr <> {wp_title})",
            f"printf('Wikidata entry %s for %s %s doesn''t match wikipedia entry (%s)for it', "
            f"d.wikidata, {place_type}, {name_or_id}, d.wikipedia)",
            "false",
        ),
        (
            "checks.IsInCountryCheck",
            f"(NOT {has('is_in_country')})",
            f"printf('is_in:country missing for %s %s', {place_type}, {name_or_id})",
            "true",
        ),
        (
            "checks_extended.RemoveLatinName",
            f"({nonempty('name_sr_latn')})",
            f"printf('Latin name missing for %s %s', {place_type}, {name_or_id})",
            "true",
        ),
    ]
    entity_type = (
        "CASE substring(d.doc_id, 1, 1) WHEN 'n' THEN 'node' "
        "WHEN 'w' THEN 'way' ELSE 'relation' END"
    )
    display_name = (
        f"((CASE WHEN d.name IS NOT NULL THEN d.name ELSE CAST(d.k AS VARCHAR) END) || "
        f"(CASE WHEN d.name_sr IS NOT NULL THEN ' / ' || d.name_sr ELSE '' END))"
    )
    selects = []
    for name, cond, msg, fixable in rows:
        selects.append(
            f"SELECT d.doc_id, {entity_type} AS entity_type, "
            f"{display_name} AS display_name, m.map_name, '{name}' AS check_name, "
            f"CASE WHEN coalesce({cond}, false) THEN 'CHECKED_ERROR' ELSE 'CHECKED_OK' END AS result, "
            f"CASE WHEN coalesce({cond}, false) THEN {msg} ELSE '' END AS message, "
            f"CASE WHEN coalesce({cond}, false) THEN {fixable} ELSE false END AS fixable "
            f"FROM base d CROSS JOIN maps m "
            f"LEFT JOIN wiki w ON w.title = {wp_title} "
            f"LEFT JOIN wd ON wd.q_id = d.wikidata"
        )
    union = " UNION ALL ".join(selects)
    return (
        f"WITH base AS (SELECT * FROM ({docs_sql}) "
        f"WHERE place IN ('city', 'town', 'village')), "
        f"wiki AS ({wiki_sql}), wd AS ({wd_sql}), "
        f"maps(map_name, is_serbia) AS (VALUES {maps_values}) "
        f"{union}"
    )
