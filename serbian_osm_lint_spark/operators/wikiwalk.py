# -*- coding: utf-8 -*-
"""J3: the bounded Wikipedia disambiguation walk as unrolled joins.

Reference ``_guess_from_wikipedia`` (``src/checks.py:46-134``): look up the
entity name; a page with a valid place box wins iff its coords are present
and ≤ 20 km from the entity (``:124-131``); a disambiguation page recurses
into its links in order (``:116-119``), preorder DFS, bailing at depth > 3
(``:69-71``). That per-entity recursive network walk becomes three join
levels over two small broadcast dims, which the entities then join once:

  * ``pages(title, is_disambig, lat, lon)``
  * ``links(parent, ord, child)``

and the DFS preorder is recovered relationally: each candidate carries a
zero-padded ordinal *path key* (root = '', depth-2 = '07', depth-3 =
'0703'); lexicographic min over keys ≡ preorder-first winner — prefix
sorts before extension, siblings sort by link order. Depth 4 simply has
no join level (the reference's bail-out).

The dim is a static literal (same constant list feeds the Spark frames
and the SQL VALUES), with per-name shapes: direct-valid page, 2-link
disambig whose first link has no coords (exception path), a 4-deep
disambig chain (must fail the depth bound), and missing page.

Which entities walk is not decided here: :func:`walk_entities` filters the
shared lint-entity frame (:func:`.checks.lint_frame`) by the check
predicates of :func:`.checks.lint_checks` — the fixed check errs, its fix
gates (C1 and C2 pass) hold — so the gates are the conditions the verdict
table reports.
"""

from __future__ import annotations

import operator
from functools import reduce

from ..functions.geo import haversine_km_col, sql_haversine_km
from ..functions.translit import sql_has_cyrillic
from ..session import local_df
from ..synth import CYR_NAMES, HOT2_LAT0, HOT2_LON0, HOT_LAT0, HOT_LON0
from .checks import DEFAULT_MAPS, auth_name, lint_checks, lint_frame


def guess_shape(i: int) -> int:
    """Walk-shape of name index ``i``: the index QUARTER (i // 4), not
    ``i % 4`` — ``i % 4`` would be perfectly correlated with the synth
    corpus's ``name:sr``-presence modulus (k % 4), leaving the
    non-Serbia-map walk (keyed on ``name:sr``) with no resolvable page
    shapes at all."""
    return (i // 4) % 4


def _guess_dim():
    """(pages, links) literal rows; shape = :func:`guess_shape`(index)."""
    pages, links = [], []
    for i, name in enumerate(CYR_NAMES):
        m = guess_shape(i)
        if m == 0:  # direct valid page near the Belgrade hot cell
            pages.append((name, False, HOT_LAT0 + 0.05, HOT_LON0 + 0.05))
        elif m == 1:  # disambig; link 1 has no coords, link 2 wins (Novi Sad)
            pages.append((name, True, None, None))
            pages.append((f"{name} (река)", False, None, None))
            pages.append((f"{name} (насеље)", False, HOT2_LAT0 + 0.05, HOT2_LON0 + 0.05))
            links.append((name, 1, f"{name} (река)"))
            links.append((name, 2, f"{name} (насеље)"))
        elif m == 2:  # 4-deep chain: depth bound must kill it
            pages.append((name, True, None, None))
            pages.append((f"{name} А", True, None, None))
            pages.append((f"{name} Б", True, None, None))
            pages.append((f"{name} В", False, HOT_LAT0 + 0.05, HOT_LON0 + 0.05))
            links.append((name, 1, f"{name} А"))
            links.append((f"{name} А", 1, f"{name} Б"))
            links.append((f"{name} Б", 1, f"{name} В"))
        # m == 3: no page at all
    return pages, links

GUESS_PAGES, GUESS_LINKS = _guess_dim()


#: the checks a walk guess fixes: C6 adds the missing ``wikipedia`` tag
#: (``src/checks.py:401-432``), C7 replaces a non-Serbian entry
#: (``src/checks.py:476-494``). Their error sets are disjoint (C7 needs the
#: tag that C6 needs absent), so one walk serves both, each row told
#: apart by ``h_wp``.
C6 = "checks.WikipediaEntryExistsCheck"
C7 = "checks.WikipediaEntryIsInSerbianCheck"


def walk_entities(ent, checks, *fixed):
    """The walk's input over the lint frame ``ent``:
    (doc_id, map_name, h_wp, name, e_lat, e_lon) for every row where one
    of the ``fixed`` checks errs and its fix gates pass. The gates are the
    check predicates of :func:`.checks.lint_checks`:
      * NameMissingCheck passes — ``name`` present and non-empty on EVERY
        map (``src/checks.py:201-205`` always reads ``name``);
      * NameCyrillicCheck passes — map-aware (``src/checks.py:217-231``);
      * the C6/C7 errors themselves exclude ``is_in:country`` entities
        outside Serbia (their ``do_check`` returns '', so no fix runs).

    The walked name is the map's authoritative name
    (``src/checks.py:409-410,477-478``): ``name`` on the Serbia map,
    ``name:sr`` elsewhere. One deviation: a non-Serbia-map entity WITHOUT
    ``name:sr`` makes the reference raise ``KeyError`` inside ``fix``
    (only ``ElementDeletedApiError`` is caught, ``src/engine.py:38-44``);
    a crash is not expressible as data, so the walk takes only rows whose
    walked name is non-empty."""
    from pyspark.sql import functions as F

    def err(name):
        return F.coalesce(checks[name].err, F.lit(False))

    walk_name = auth_name()
    return ent.filter(
        reduce(operator.or_, map(err, fixed))
        & ~err("checks.NameMissingCheck")
        & ~err("checks.NameCyrillicCheck")
        & (F.coalesce(walk_name, F.lit("")) != "")
    ).select(
        "doc_id",
        "map_name",
        "h_wp",
        walk_name.alias("name"),
        F.col("lat").alias("e_lat"),
        F.col("lon").alias("e_lon"),
    )


def guess_walk(spark, e):
    """Best guess per (doc_id, map_name) of :func:`walk_entities` rows:
    their columns but the coords, plus ``guess_title`` and ``depth``.

    The walk runs over the dims alone first: ``pages`` ⋈ ``links`` for up
    to three levels gives every (root, title, lat, lon, path_key) page a
    walk from ``root`` could end on — not a disambiguation page, coords
    present. The entities then take ONE broadcast join on ``name = root``
    (their input is scanned once), the 20 km test, and the preorder pick."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pages = F.broadcast(
        local_df(spark, GUESS_PAGES, "title string, is_disambig boolean, lat double, lon double")
    )
    links = F.broadcast(local_df(spark, GUESS_LINKS, "parent string, ord int, child string"))
    cols = [c for c in e.columns if c not in ("e_lat", "e_lon")]

    def step(level):
        """One more link from a disambiguation page of ``level``."""
        return (
            level.filter(F.col("is_disambig"))
            .join(links, F.col("title") == F.col("parent"))
            .select(
                "root",
                F.col("child").alias("title"),
                F.concat("path_key", F.lpad(F.col("ord").cast("string"), 2, "0")).alias("path_key"),
            )
            .join(pages, "title")
        )

    d1 = pages.select(F.col("title").alias("root"), "*", F.lit("").alias("path_key"))
    d2 = step(d1)
    paths = (
        d1.unionByName(d2)
        .unionByName(step(d2))
        .filter(~F.col("is_disambig") & F.col("lat").isNotNull())
    )
    dist = haversine_km_col(F.col("e_lat"), F.col("e_lon"), F.col("lat"), F.col("lon"))
    cands = (
        e.join(F.broadcast(paths), e["name"] == F.col("root"))
        .filter(dist <= 20.0)
        .select(*cols, F.col("title").alias("guess_title"), "path_key")
    )
    w = Window.partitionBy("doc_id", "map_name").orderBy("path_key")
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*cols, "guess_title", (F.length("path_key") / 2 + 1).cast("int").alias("depth"))
    )


def wiki_guess_df(spark, docs, maps=DEFAULT_MAPS):
    """C6's disambiguation-walk guesses, PER MAP:
    (doc_id, map_name, name, guess_title, depth)."""
    ent = lint_frame(docs, maps)
    return guess_walk(spark, walk_entities(ent, lint_checks(), C6)).drop("h_wp")


# ---------------------------------------------------------------------- sql
def sql_wiki_guess(docs_sql: str, wikipedia_mode: str = "missing", maps=DEFAULT_MAPS) -> str:
    def esc(s):
        return s.replace("'", "''")

    if wikipedia_mode == "missing":
        wp_pred = "wikipedia IS NULL"
    elif wikipedia_mode == "non_sr":
        wp_pred = "(wikipedia IS NOT NULL AND NOT starts_with(wikipedia, 'sr:'))"
    else:
        raise ValueError(wikipedia_mode)

    maps_values = ", ".join(f"('{esc(m)}', {str(s).lower()})" for m, s in maps)
    pages_vals = ", ".join(
        f"('{esc(t)}', {str(d).lower()}, "
        + (f"{la}, {lo}" if la is not None else "NULL, NULL")
        + ")"
        for t, d, la, lo in GUESS_PAGES
    )
    links_vals = ", ".join(f"('{esc(p)}', {o}, '{esc(c)}')" for p, o, c in GUESS_LINKS)
    dist = lambda p: sql_haversine_km("e.e_lat", "e.e_lon", f"{p}.lat", f"{p}.lon")  # noqa: E731
    win = (
        lambda p: f"(NOT {p}.is_disambig AND {p}.lat IS NOT NULL AND {dist(p)} <= 20.0)"
    )  # noqa: E731
    return f"""
    WITH pages(title, is_disambig, lat, lon) AS (VALUES {pages_vals}),
    links(parent, ord, child) AS (VALUES {links_vals}),
    e AS (
      SELECT doc_id, m.map_name,
             CASE WHEN m.is_serbia THEN name ELSE name_sr END AS name,
             lat AS e_lat, lon AS e_lon
      FROM ({docs_sql}) CROSS JOIN (VALUES {maps_values}) AS m(map_name, is_serbia)
      WHERE place IN ('city', 'town', 'village') AND {wp_pred}
        AND NOT (is_in_country IS NOT NULL AND is_in_country <> 'Serbia')
        AND coalesce(name, '') <> ''
        AND (CASE WHEN m.is_serbia THEN {sql_has_cyrillic('name')}
             ELSE (coalesce(name_sr, '') <> '' AND {sql_has_cyrillic('name_sr')}) END)
    ),
    w1 AS (
      SELECT e.doc_id, e.map_name, e.name, p1.title AS guess_title, '' AS path_key
      FROM e JOIN pages p1 ON p1.title = e.name WHERE {win('p1')}
    ),
    w2 AS (
      SELECT e.doc_id, e.map_name, e.name, p2.title AS guess_title,
             lpad(CAST(l1.ord AS VARCHAR), 2, '0') AS path_key
      FROM e JOIN pages p1 ON p1.title = e.name AND p1.is_disambig
      JOIN links l1 ON l1.parent = p1.title
      JOIN pages p2 ON p2.title = l1.child
      WHERE {win('p2')}
    ),
    w3 AS (
      SELECT e.doc_id, e.map_name, e.name, p3.title AS guess_title,
             lpad(CAST(l1.ord AS VARCHAR), 2, '0') ||
             lpad(CAST(l2.ord AS VARCHAR), 2, '0') AS path_key
      FROM e JOIN pages p1 ON p1.title = e.name AND p1.is_disambig
      JOIN links l1 ON l1.parent = p1.title
      JOIN pages p2 ON p2.title = l1.child AND p2.is_disambig
      JOIN links l2 ON l2.parent = p2.title
      JOIN pages p3 ON p3.title = l2.child
      WHERE {win('p3')}
    ),
    cands AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
    SELECT doc_id, map_name, name, guess_title,
           CAST(length(path_key) / 2 + 1 AS INT) AS depth
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, map_name ORDER BY path_key) AS rn
          FROM cands)
    WHERE rn = 1
    """
