# -*- coding: utf-8 -*-
"""S8 as data: the write-back fixes as a *proposed-fix* table.

The reference applies fixes interactively through the OSM API inside an
auto-changeset (``src/checks.py:261-296,328-356,681-698``; engine scope
note in SURVEY §2.1 S8). The engine equivalent is a column-level output:
one row per (entity, map, check) whose fix gates pass —
``(doc_id, map_name, check_name, action, tag, new_val)`` — which a thin
driver loop (or ``foreachBatch`` exporter) could replay against the API.

The reference attaches each fix to its check class, so a fix fires where
its check errs and its gates are other checks' verdicts. Here too: every
condition below is a predicate of :func:`.checks.lint_checks`, evaluated
over the same lint-entity frame (:func:`.checks.lint_frame`):
  * C3 add ``name:sr-Latn = cyr2lat(authoritative)`` — gates are
    C1-passes (authoritative name present) AND C2-passes
    (``src/checks.py:261-275``). NB: C2 *skips* (passes) excluded
    entities on the Serbia map, so an excluded Latin-named entity still
    gets the fix — mirrored here (round-1 ADVICE).
  * C4 modify ``name:sr-Latn`` to the correct transliteration
    (``src/checks.py:328-335``);
  * C6 add ``wikipedia = sr:<guess>`` from the J3 disambiguation walk
    (``src/checks.py:401-432``);
  * C7 modify ``wikipedia = sr:<guess>`` when the existing entry is not
    Serbian — the same guess machinery (``src/checks.py:476-494``);
  * C9 add ``wikidata = <Q-id of the linked page>`` when C8 resolved the
    page (its gate held and it passed: valid box, coords, ≤ 20 km) and
    wikidata is missing (``src/checks.py:588-607``) — the page→Q-id
    lookup is the broadcast wiki dim's ``wikidata_q`` column;
  * C12 add ``is_in:country = Serbia`` (``src/checks.py:681-698``);
  * C14 delete ``name:sr-Latn`` (``src/checks_extended.py:28-52``).

C6 and C7 share one guess walk (:func:`..wikiwalk.guess_walk`): their
error sets are disjoint, so one walk over both yields each row's guess
once, tagged by whether the ``wikipedia`` tag was present. The walk is
map-aware like the reference: it walks ``name`` on the Serbia map and
``name:sr`` elsewhere (``src/checks.py:409-410,477-478``).
"""

from __future__ import annotations

from ..functions.geo import sql_haversine_km
from ..functions.translit import sql_cyr2lat, sql_has_cyrillic
from .checks import DEFAULT_MAPS, lint_checks, lint_frame, with_check_layer, with_wiki_page
from .wikiwalk import C6, C7, guess_walk, sql_wiki_guess, walk_entities


def proposed_fixes_df(spark, docs, wiki_pages, maps=DEFAULT_MAPS):
    from pyspark.sql import functions as F

    ent = lint_frame(docs, maps)
    checks = lint_checks()

    def err(name):
        return F.coalesce(checks[name].err, F.lit(False))

    def fix(check, action, tag, new_val, gate=True):
        return F.when(
            err(check) & gate,
            F.struct(
                F.lit(check).alias("check_name"),
                F.lit(action).alias("action"),
                F.lit(tag).alias("tag"),
                new_val.alias("new_val"),
            ),
        )

    # C3: C2's error is map-aware and skips excluded entities on the
    # Serbia map (src/checks.py:216-231), so the gate is NOT plain
    # has_cyrillic(auth): exclusion lets it through. C1 gates on the
    # Serbia map, where ``name`` is authoritative; elsewhere C3's own
    # error already requires ``name:sr``.
    c3_gate = ~err("checks.NameCyrillicCheck") & (
        ~F.col("is_serbia") | ~err("checks.NameMissingCheck")
    )
    # C9 reads the page C8 cached: C8 evaluated (its gate) and passed.
    c8 = checks["checks.WikipediaEntryValidCheck"]
    c9_gate = c8.gate & ~c8.err
    fixes = F.array(
        fix("checks.LatinNameExistsCheck", "add", "name:sr-Latn", F.col("auth_lat"), c3_gate),
        fix("checks.LatinNameSameAsCyrillicCheck", "modify", "name:sr-Latn", F.col("auth_lat")),
        fix("checks.WikidataEntryExistsCheck", "add", "wikidata", F.col("wikidata_q"), c9_gate),
        fix("checks.IsInCountryCheck", "add", "is_in:country", F.lit("Serbia")),
        fix("checks_extended.RemoveLatinName", "delete", "name:sr-Latn", F.lit(None).cast("string")),
    )
    tag_fixes = (
        with_check_layer(with_wiki_page(ent, wiki_pages))
        .select("doc_id", "map_name", F.explode(fixes).alias("f"))
        .filter(F.col("f").isNotNull())
        .select("doc_id", "map_name", "f.*")
    )
    # C6/C7: one walk over both error sets; rows that have a wikipedia tag
    # are C7's (it errs only where the tag is present, C6 only where absent)
    has_wp = F.col("h_wp")
    guess_fixes = guess_walk(spark, walk_entities(ent, checks, C6, C7)).select(
        "doc_id",
        "map_name",
        F.when(has_wp, F.lit(C7)).otherwise(F.lit(C6)).alias("check_name"),
        F.when(has_wp, F.lit("modify")).otherwise(F.lit("add")).alias("action"),
        F.lit("wikipedia").alias("tag"),
        F.concat(F.lit("sr:"), F.col("guess_title")).alias("new_val"),
    )
    return tag_fixes.unionByName(guess_fixes)


def sql_proposed_fixes(docs_sql: str, wiki_sql: str, maps=DEFAULT_MAPS) -> str:
    maps_values = ", ".join(f"('{m}', {str(s).lower()})" for m, s in maps)
    auth = "(CASE WHEN m.is_serbia THEN d.name ELSE d.name_sr END)"
    excl = "(d.is_in_country IS NOT NULL AND d.is_in_country <> 'Serbia')"
    nonempty = lambda c: f"(coalesce(d.{c}, '') <> '')"  # noqa: E731
    has = lambda c: f"(d.{c} IS NOT NULL)"  # noqa: E731
    c3_err = (
        f"(CASE WHEN m.is_serbia THEN NOT {nonempty('name_sr_latn')} "
        f"ELSE (NOT {nonempty('name_sr_latn')} AND {has('name_sr')}) END)"
    )
    auth_nonnull = f"coalesce({auth}, '')"
    c2_eval = (
        f"(CASE WHEN m.is_serbia THEN ({nonempty('name')} AND NOT {excl}) "
        f"ELSE {nonempty('name_sr')} END)"
    )
    c2_ok = f"(NOT coalesce({c2_eval} AND NOT {sql_has_cyrillic(auth_nonnull)}, false))"
    c3_gate = (
        f"((CASE WHEN m.is_serbia THEN {nonempty('name')} ELSE {has('name_sr')} END) "
        f"AND {c2_ok})"
    )
    c4_err = (
        f"((CASE WHEN m.is_serbia THEN {has('name')} ELSE {has('name_sr')} END) "
        f"AND {has('name_sr_latn')} AND NOT {excl} "
        f"AND {sql_cyr2lat(auth)} <> d.name_sr_latn)"
    )
    base = (
        f"(SELECT * FROM ({docs_sql}) WHERE place IN ('city', 'town', 'village')) d "
        f"CROSS JOIN (VALUES {maps_values}) AS m(map_name, is_serbia)"
    )
    rows = [
        ("checks.LatinNameExistsCheck", f"({c3_err} AND {c3_gate})", "add", "name:sr-Latn", sql_cyr2lat(auth)),
        ("checks.LatinNameSameAsCyrillicCheck", c4_err, "modify", "name:sr-Latn", sql_cyr2lat(auth)),
        ("checks.IsInCountryCheck", f"(NOT {has('is_in_country')})", "add", "is_in:country", "'Serbia'"),
        ("checks_extended.RemoveLatinName", nonempty("name_sr_latn"), "delete", "name:sr-Latn", "NULL"),
    ]
    selects = [
        f"SELECT d.doc_id, m.map_name, '{check}' AS check_name, '{action}' AS action, "
        f"'{tag}' AS tag, CAST({val} AS VARCHAR) AS new_val FROM {base} WHERE {cond}"
        for check, cond, action, tag, val in rows
    ]

    def guess_select(mode, check_name, action):
        return (
            f"SELECT g.doc_id, g.map_name, '{check_name}' AS check_name, "
            f"'{action}' AS action, 'wikipedia' AS tag, 'sr:' || g.guess_title AS new_val "
            f"FROM ({sql_wiki_guess(docs_sql, mode, maps)}) g"
        )

    c6 = guess_select("missing", "checks.WikipediaEntryExistsCheck", "add")
    c7 = guess_select("non_sr", "checks.WikipediaEntryIsInSerbianCheck", "modify")
    dist = sql_haversine_km("d.lat", "d.lon", "w.w_lat", "w.w_lon")
    c9 = (
        f"SELECT d.doc_id, m.map_name, 'checks.WikidataEntryExistsCheck' AS check_name, "
        f"'add' AS action, 'wikidata' AS tag, w.wikidata_q AS new_val "
        f"FROM (SELECT * FROM ({docs_sql}) WHERE place IN ('city', 'town', 'village')) d "
        f"JOIN ({wiki_sql}) w ON w.title = substring(d.wikipedia, 4) "
        f"CROSS JOIN (VALUES {maps_values}) AS m(map_name, is_serbia) "
        f"WHERE d.name IS NOT NULL AND d.wikipedia IS NOT NULL "
        f"AND starts_with(d.wikipedia, 'sr:') AND NOT {excl} AND d.wikidata IS NULL "
        f"AND w.has_box AND w.w_lat IS NOT NULL AND {dist} <= 20.0"
    )
    return " UNION ALL ".join(selects + [c6, c7, c9])
