# -*- coding: utf-8 -*-
"""Spatial core: point-in-polygon, grid cells, kNN dup names, tiling, skew.

North-rule operators with no direct reference analogue (the reference
*approximates* containment via the ``is_in:country`` tag —
``src/checks.py:220-221`` — and remote radius circles):

* J2 — broadcast point-in-polygon vs the (toy) Serbia admin boundary:
  a driver-computed cell-cover classifies every grid cell as
  INSIDE/OUTSIDE/BOUNDARY; fully-classified cells are answered by a
  broadcast-joined lookup, only boundary-cell rows evaluate the exact
  native ray-cast (one Catalyst parity expression, no Python worker).
  At 10^12 docs the ray cast touches only the O(perimeter) fraction of
  rows.
* J8 — kNN duplicate-name detection: :func:`_ring_pairs` is the one place
  the ring join lives — equi-join on (neighbor-ring cell id, name key);
  explode of 9 cells on the left side keeps it a shuffle-stable
  equi-join instead of a theta join — and :func:`_nearest_k` ranks by
  great-circle distance. The plain, transliterated and capped faces only
  choose the key, the pair predicate and the output names.
* J9 — raster-tile ↔ vector-entity assignment: pure slippy-map column
  math then an equi-join-able tile key.
* A4 — salted two-phase cell aggregation for urban-cell skew: stage 1
  ``groupBy(cell, salt)`` partial, stage 2 ``groupBy(cell)`` final; salt
  is derived from ``doc_id`` hash (deterministic — resume-safe).

Every operator has a DuckDB SQL twin generated from the same polygon /
zoom constants (independent implementation, shared spec).
"""

from __future__ import annotations

import functools
import math
import operator
from decimal import Decimal

import numpy as np

from ..functions import geo
from ..functions.geo import (
    CELL_ZOOM,
    TILE_ZOOM,
    cell_id_col,
    sql_cell_id,
    sql_haversine_km,
    sql_tile_x,
    sql_tile_y,
    tile_x_col,
    tile_y_col,
)
from ..session import local_df
from .spans import with_flat_entity

#: toy "Serbia" admin boundary: one concave outer ring + two holes,
#: (lat, lon) vertices. Stands in for the real admin polygon; the PIP
#: machinery is shape-agnostic.
SERBIA_RING = [
    (46.1, 19.1), (46.2, 20.3), (45.6, 21.5), (44.9, 22.7), (43.7, 23.0),
    (42.4, 22.6), (42.2, 21.6), (42.1, 20.6), (43.1, 19.2), (44.0, 19.4),
    (44.9, 18.8), (45.4, 19.0),
]
SERBIA_HOLES = [
    [(43.4, 20.6), (43.4, 21.0), (43.8, 21.0), (43.8, 20.6)],
    # second hole (non-rectilinear) in the Banat area — exercises the
    # multi-hole parity path and shares a latitude with outer-ring
    # vertices so vertex-on-ray degeneracy is live in the fixtures
    [(44.9, 21.2), (45.1, 21.45), (44.95, 21.7), (44.75, 21.4)],
]


def _edges():
    """All polygon edges (outer ring + holes) as (y1, x1, y2, x2)."""
    out = []
    for ring in [SERBIA_RING] + SERBIA_HOLES:
        n = len(ring)
        for i in range(n):
            (y1, x1), (y2, x2) = ring[i], ring[(i + 1) % n]
            out.append((y1, x1, y2, x2))
    return out


EDGES = _edges()


def _ray_edges():
    """The edges a horizontal ray can cross, as (y1, x1, y2, x2, dx, dy).

    ``dx``/``dy`` are the exact decimal differences of the vertex
    literals, rounded once to float — what DuckDB folds the twin's
    ``(x2 - x1)`` to. A float64 subtraction rounds twice, and on an edge
    the crossing then lands one ulp off (19.072000000000003 vs 19.072)."""
    def delta(a, b):
        return float(Decimal(repr(b)) - Decimal(repr(a)))

    return [
        (y1, x1, y2, x2, delta(x1, x2), delta(y1, y2))
        for y1, x1, y2, x2 in EDGES
        if y1 != y2
    ]


#: the one edge table every exact ray cast reads
RAY_EDGES = _ray_edges()


# ----------------------------------------------------------------- python
def point_in_polygon_py(lat: float, lon: float) -> bool:
    """Ray-casting parity over all edges (holes included ⇒ XOR for free)."""
    inside = False
    for y1, x1, y2, x2, dx, dy in RAY_EDGES:
        if (y1 > lat) != (y2 > lat) and lon < dx * (lat - y1) / dy + x1:
            inside = not inside
    return inside


def _segment_intersects_rect(y1, x1, y2, x2, ymin, ymax, xmin, xmax) -> bool:
    """Conservative segment-vs-rect test (bbox overlap + separating line)."""
    if max(y1, y2) < ymin or min(y1, y2) > ymax or max(x1, x2) < xmin or min(x1, x2) > xmax:
        return False
    # if all four rect corners are strictly on one side of the segment line,
    # no intersection; otherwise assume intersection (conservative).
    d = [
        (x2 - x1) * (cy - y1) - (y2 - y1) * (cx - x1)
        for cy, cx in ((ymin, xmin), (ymin, xmax), (ymax, xmin), (ymax, xmax))
    ]
    return not (all(v > 0 for v in d) or all(v < 0 for v in d))


def _cell_cover_scalar(zoom: int = CELL_ZOOM):
    """Reference (scalar-Python) cell cover — kept as the parity oracle
    for the vectorized :func:`cell_cover` (tested equal)."""
    lats = [p[0] for p in SERBIA_RING]
    lons = [p[1] for p in SERBIA_RING]
    x0, y1_ = geo.tile_xy_py(max(lats), min(lons), zoom)  # y grows south
    x1_, y0 = geo.tile_xy_py(min(lats), max(lons), zoom)
    n = 1 << zoom
    cover = {}

    def tile_bounds(x, y):
        lon_min = x / n * 360.0 - 180.0
        lon_max = (x + 1) / n * 360.0 - 180.0
        lat_max = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
        lat_min = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n))))
        return lat_min, lat_max, lon_min, lon_max

    for x in range(x0, x1_ + 1):
        for y in range(y1_, y0 + 1):
            ymin, ymax, xmin, xmax = tile_bounds(x, y)
            if any(
                _segment_intersects_rect(a, b, c, d, ymin, ymax, xmin, xmax)
                for a, b, c, d in EDGES
            ):
                cover[(x << zoom) | y] = "BOUNDARY"
            elif point_in_polygon_py((ymin + ymax) / 2, (xmin + xmax) / 2):
                cover[(x << zoom) | y] = "IN"
    return cover


@functools.lru_cache(maxsize=None)
def cell_cover(zoom: int = CELL_ZOOM):
    """Classify every grid cell overlapping the polygon bbox.

    Returns {cell_id: 'IN' | 'BOUNDARY'}; absent cells are OUT. A cell is
    BOUNDARY iff any polygon edge intersects it; else IN/OUT by its
    center point.

    Numpy-vectorized over the (cells × edges) grid AND memoized: the
    scalar double loop (~3k cells × 34 edges of pure-Python geometry)
    cost ~1.7 s of DRIVER time on every plan build — half the measured
    end-to-end latency of the PIP query (r5). The cover depends only on
    the module polygon and the zoom, so it is computed once per process;
    the arithmetic is the same float64 ops as the scalar oracle
    (:func:`_cell_cover_scalar`), asserted equal in tests — save the
    oracle's center ray cast, which takes :data:`RAY_EDGES`' exact
    deltas; a center decided here lies off every edge, so both agree."""
    lats = [p[0] for p in SERBIA_RING]
    lons = [p[1] for p in SERBIA_RING]
    x0, y1_ = geo.tile_xy_py(max(lats), min(lons), zoom)  # y grows south
    x1_, y0 = geo.tile_xy_py(min(lats), max(lons), zoom)
    n = 1 << zoom
    xs = np.arange(x0, x1_ + 1)
    ys = np.arange(y1_, y0 + 1)
    lon_min = xs / n * 360.0 - 180.0
    lon_max = (xs + 1) / n * 360.0 - 180.0
    lat_max = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * ys / n))))
    lat_min = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (ys + 1) / n))))
    # (nx, ny, 1) cell bounds × (ne,) edges
    ymin = lat_min[None, :, None]
    ymax = lat_max[None, :, None]
    xmin = lon_min[:, None, None]
    xmax = lon_max[:, None, None]
    e = np.asarray(EDGES, dtype=np.float64)
    y1, x1, y2, x2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    dx, dy = x2 - x1, y2 - y1
    bbox_miss = (
        (np.maximum(y1, y2) < ymin)
        | (np.minimum(y1, y2) > ymax)
        | (np.maximum(x1, x2) < xmin)
        | (np.minimum(x1, x2) > xmax)
    )
    d1 = dx * (ymin - y1) - dy * (xmin - x1)
    d2 = dx * (ymin - y1) - dy * (xmax - x1)
    d3 = dx * (ymax - y1) - dy * (xmin - x1)
    d4 = dx * (ymax - y1) - dy * (xmax - x1)
    one_side = ((d1 > 0) & (d2 > 0) & (d3 > 0) & (d4 > 0)) | (
        (d1 < 0) & (d2 < 0) & (d3 < 0) & (d4 < 0)
    )
    boundary = (~bbox_miss & ~one_side).any(axis=2)
    # cell-center ray cast (horizontal edges guarded by an infinite dy)
    la = ((lat_min + lat_max) / 2)[None, :, None]
    lo = ((lon_min + lon_max) / 2)[:, None, None]
    crosses = ((y1 > la) != (y2 > la)) & (
        lo < dx * (la - y1) / np.where(dy == 0, np.inf, dy) + x1
    )
    inside = crosses.sum(axis=2) % 2 == 1
    cover = {}
    for i, x in enumerate(range(x0, x1_ + 1)):
        for j, y in enumerate(range(y1_, y0 + 1)):
            if boundary[i, j]:
                cover[(x << zoom) | y] = "BOUNDARY"
            elif inside[i, j]:
                cover[(x << zoom) | y] = "IN"
    return cover


# ------------------------------------------------------------------ spark
def _ray_cast_col(lat, lon):
    """Exact ray-cast parity as one Catalyst expression: the twin's
    per-edge CASE terms over :data:`RAY_EDGES`, summed, odd ⇒ inside. A
    null coordinate crosses nothing, as in the twin."""
    from pyspark.sql import functions as F

    crossings = [
        F.when(
            ((lat < y1) != (lat < y2)) & (lon < F.lit(dx) * (lat - y1) / F.lit(dy) + x1), 1
        ).otherwise(0)
        for y1, x1, y2, x2, dx, dy in RAY_EDGES
    ]
    return functools.reduce(operator.add, crossings) % 2 == 1


def point_in_serbia_df(spark, docs, zoom: int = CELL_ZOOM):
    """J2: ``(doc_id, in_serbia)`` via cover prefilter + exact PIP on
    boundary cells only. Invariant (tested): ≡ exact PIP on every row.

    One scan, one projection: the CASE evaluates the ray cast only for
    rows whose cell is BOUNDARY; every other row reads its cell status."""
    from pyspark.sql import functions as F

    cover = local_df(spark, list(cell_cover(zoom).items()), "cell_id long, status string")
    ent = with_flat_entity(docs).select(
        "doc_id", "lat", "lon", cell_id_col(F.col("lat"), F.col("lon"), zoom).alias("cell_id")
    )
    status = F.col("status")
    in_serbia = F.when(status == "BOUNDARY", _ray_cast_col(F.col("lat"), F.col("lon")))
    return ent.join(F.broadcast(cover), "cell_id", "left").select(
        "doc_id", in_serbia.otherwise(F.coalesce(status == "IN", F.lit(False))).alias("in_serbia")
    )


def point_in_serbia_exact_df(spark, docs):
    """Exact-PIP-everywhere twin (test oracle for the prefiltered path)."""
    from pyspark.sql import functions as F

    ent = with_flat_entity(docs).select("doc_id", "lat", "lon")
    return ent.select("doc_id", _ray_cast_col(F.col("lat"), F.col("lon")).alias("in_serbia"))


def cell_encode_df(spark, docs, zoom: int = CELL_ZOOM):
    """Grid-cell encoding of every doc centroid (the H3/S2 stand-in)."""
    from pyspark.sql import functions as F

    ent = with_flat_entity(docs)
    return ent.select(
        "doc_id",
        tile_x_col(F.col("lon"), zoom).alias("cell_x"),
        tile_y_col(F.col("lat"), zoom).alias("cell_y"),
        cell_id_col(F.col("lat"), F.col("lon"), zoom).alias("cell_id"),
    )


def _ring_pairs(docs, key: str, cols: dict, zoom: int, cap: int | None = None):
    """The one J8 ring join: same-``key`` pairs of named entities within
    the 3×3 neighbor cell ring, with their great-circle ``dist_km``.

    ``cols`` maps column names to per-entity expressions over the flat
    entity and must include ``key``. Every pair row carries ``doc_id``
    and the ``cols`` other than ``key`` suffixed ``_a`` (left) and ``_b``
    (right), then ``key``, then ``dist_km``. With ``cap``, the right side
    keeps only the first ``cap`` doc_ids per (cell_id, key) bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ent = with_flat_entity(docs).filter(F.coalesce(F.col("a_name"), F.lit("")) != "")
    # per-POINT trig hoisted out of the pair join: radians + cos(lat) are
    # computed once per entity, not once per candidate pair
    pts = ent.select(
        "doc_id",
        *[c.alias(n) for n, c in cols.items()],
        F.radians("lat").alias("rlat"),
        F.radians("lon").alias("rlon"),
        F.cos(F.radians("lat")).alias("clat"),
        tile_x_col(F.col("lon"), zoom).alias("cx"),
        tile_y_col(F.col("lat"), zoom).alias("cy"),
    )
    carried = ["doc_id"] + [n for n in cols if n != key]

    def side(s, cell_id):
        return pts.select(
            *[F.col(n).alias(f"{n}_{s}") for n in carried],
            key,
            *[F.col(t).alias(f"{t}_{s}") for t in ("rlat", "rlon", "clat")],
            cell_id.alias("cell_id"),
        )

    left = side("a", F.explode(geo.neighbor_cells_col(F.col("cx"), F.col("cy"), zoom)))
    right = side("b", F.shiftleft(F.col("cx"), zoom) + F.col("cy"))
    if cap is not None:
        rn = F.row_number().over(Window.partitionBy("cell_id", key).orderBy("doc_id_b"))
        right = right.withColumn("rn", rn).filter(F.col("rn") <= cap).drop("rn")
    dist = geo.haversine_km_hoisted_col(
        F.col("rlat_a"), F.col("rlon_a"), F.col("clat_a"),
        F.col("rlat_b"), F.col("rlon_b"), F.col("clat_b"),
    )
    return left.join(right, ["cell_id", key]).select(
        *[f"{n}_{s}" for n in carried for s in ("a", "b")],
        key,
        F.round(dist, 6).alias("dist_km"),
    )


def _nearest_k(pairs, a: str, b: str, k: int):
    """Top ``k`` pairs per ``a`` ordered by ``(dist_km, b)`` — ``b`` is the
    total tie-break, so the ranking is deterministic — with the int
    ``rank`` appended."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(a).orderBy(F.col("dist_km"), F.col(b))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_dup_names_df(spark, docs, k: int = 5, zoom: int = CELL_ZOOM):
    """J8: same-name entity pairs within the 3×3 neighbor cell ring,
    ranked by distance (top-k per left entity).

    Plan shape: explode(9 neighbor cells) on the left → shuffle equi-join
    on (cell_id, name) → window top-k. Name+cell is well-distributed;
    urban-cell skew is bounded by the ring constant and AQE skew split.
    """
    from pyspark.sql import functions as F

    pairs = _ring_pairs(docs, "name", {"name": F.col("a_name")}, zoom)
    pairs = pairs.filter(F.col("doc_id_a") < F.col("doc_id_b"))
    return _nearest_k(pairs, "doc_id_a", "doc_id_b", k)


def translit_dup_names_df(spark, docs, k: int = 5, zoom: int = CELL_ZOOM):
    """Cross-script duplicate names (J8 × F1): pairs whose names are the
    SAME place rendered in different scripts — equal after
    cyr2lat+lower normalization but raw-unequal — within the 3×3
    neighbor cell ring, ranked by distance (top-k per left entity).

    The lint story: the same village entered once as "Љиг" and once as
    "Ljig" is the dedup case plain name-equality kNN (J8) cannot see;
    the transliteration algebra (F1, reference ``src/cyrillic...``
    parity) turns script equivalence into an equi-join key. Plan shape
    is identical to :func:`knn_dup_names_df` — (cell_id, norm_name) is
    the one shuffle key, so the 100 TB behavior is the same
    well-distributed band join. Output: (doc_id_a, doc_id_b, name_a,
    name_b, norm_name, dist_km, rank)."""
    from pyspark.sql import functions as F

    from ..functions.translit import cyr2lat_col

    cols = {"name": F.col("a_name"), "norm_name": F.lower(cyr2lat_col(F.col("a_name")))}
    pairs = _ring_pairs(docs, "norm_name", cols, zoom).filter(
        (F.col("doc_id_a") < F.col("doc_id_b")) & (F.col("name_a") != F.col("name_b"))
    )
    return _nearest_k(pairs, "doc_id_a", "doc_id_b", k)


def sql_translit_dup_names(docs_sql: str, k: int = 5, zoom: int = CELL_ZOOM) -> str:
    """DuckDB twin of :func:`translit_dup_names_df` (independent
    REPLACE-chain transliteration + ring join)."""
    from ..functions.translit import sql_cyr2lat

    dist = sql_haversine_km("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
    WITH pts AS (
      SELECT doc_id, name, lower({sql_cyr2lat('name')}) AS norm_name, lat, lon,
             {sql_tile_x('lon', zoom)} AS cx, {sql_tile_y('lat', zoom)} AS cy
      FROM ({docs_sql}) WHERE coalesce(name, '') <> ''
    ), pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.name AS name_a, b.name AS name_b, a.norm_name,
             round({dist}, 6) AS dist_km
      FROM pts a JOIN pts b
        ON a.norm_name = b.norm_name AND a.doc_id < b.doc_id
       AND a.name <> b.name
       AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    )
    SELECT doc_id_a, doc_id_b, name_a, name_b, norm_name, dist_km,
           CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id_a ORDER BY dist_km, doc_id_b) AS rank
      FROM pairs
    ) WHERE rank <= {k}
    """


#: per-(cell, name) candidate cap for the skew-bounded kNN variant.
KNN_CAP = 64


def knn_dup_names_capped_df(spark, docs, k: int = 5, zoom: int = CELL_ZOOM, cap: int = KNN_CAP):
    """Skew-bounded J8 (VERDICT r3 item 8): same as
    :func:`knn_dup_names_df` but the RIGHT side keeps at most ``cap``
    entities per (cell, name) bucket (deterministic: first ``cap`` by
    doc_id).

    Why: a hot (cell, name) bucket — 10k "Београд" nodes in one urban
    cell — makes the pair join QUADRATIC in the bucket (50M pairs from
    one key). AQE skew-split rebalances tasks but cannot shrink the pair
    space; the cap does: candidates per doc ≤ 9·cap, so work is LINEAR
    in bucket size. Semantics shift from deduped pairs (``a < b``) to
    per-doc kNN — EVERY doc is ranked against the capped sample (a
    ``a < b`` cap would starve all docs above the sample of candidates
    entirely). With bucket sizes ≤ cap the neighbor set per doc is the
    full bucket, i.e. exact; above it, neighbors come from the
    deterministic sample — and a bucket that big is itself a dedup
    finding. The DuckDB twin replays the cap exactly, so this stays
    hash-verified. Output: (doc_id, neighbor_id, name, dist_km, rank)."""
    from pyspark.sql import functions as F

    pairs = _ring_pairs(docs, "name", {"name": F.col("a_name")}, zoom, cap=cap)
    pairs = pairs.filter(F.col("doc_id_a") != F.col("doc_id_b")).withColumnsRenamed(
        {"doc_id_a": "doc_id", "doc_id_b": "neighbor_id"}
    )
    return _nearest_k(pairs, "doc_id", "neighbor_id", k)


def tile_assignment_df(spark, docs, zoom: int = TILE_ZOOM):
    """J9: assign each media span to the slippy tile containing the doc's
    point — pure projection; the tile key is equi-join-ready."""
    from pyspark.sql import functions as F

    ent = with_flat_entity(docs)
    x, y = tile_x_col(F.col("lon"), zoom), tile_y_col(F.col("lat"), zoom)
    return ent.select(
        "doc_id",
        F.explode(F.col("media_refs")).alias("media_ref"),
        F.lit(zoom).alias("z"),
        x.alias("x"),
        y.alias("y"),
        F.format_string(f"%d/%d/%d", F.lit(zoom), x, y).alias("tile_id"),
    )


def cell_counts_salted_df(spark, docs, zoom: int = CELL_ZOOM, salt_buckets: int = 16):
    """A4: skew-safe per-cell doc counts via salted two-phase aggregation.

    Stage 1 shuffles on (cell_id, salt) — the Belgrade hot cell splits
    into ``salt_buckets`` partial groups — stage 2 on cell_id combines
    tiny partials. Salt = hash(doc_id) mod buckets: deterministic.
    """
    from pyspark.sql import functions as F

    ent = with_flat_entity(docs)
    cells = ent.select(
        cell_id_col(F.col("lat"), F.col("lon"), zoom).alias("cell_id"),
        F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)).alias("salt"),
    )
    partial = cells.groupBy("cell_id", "salt").agg(F.count("*").alias("partial_n"))
    return partial.groupBy("cell_id").agg(F.sum("partial_n").alias("n_docs"))


# -------------------------------------------------------------------- sql
def sql_point_in_serbia(docs_sql: str) -> str:
    """Oracle twin of J2: the ray-cast parity unrolled to one CASE term
    per polygon edge (generated from the same vertex constants)."""
    terms = []
    for y1, x1, y2, x2 in EDGES:
        terms.append(
            f"(CASE WHEN (({y1} > d.lat) <> ({y2} > d.lat)) AND "
            f"d.lon < ({x2} - {x1}) * (d.lat - {y1}) / ({y2} - {y1}) + {x1} "
            f"THEN 1 ELSE 0 END)"
        )
    parity = " + ".join(terms)
    return (
        f"SELECT d.doc_id, (({parity}) % 2 = 1) AS in_serbia "
        f"FROM ({docs_sql}) d"
    )


def sql_cell_encode(docs_sql: str, zoom: int = CELL_ZOOM) -> str:
    return (
        f"SELECT d.doc_id, {sql_tile_x('d.lon', zoom)} AS cell_x, "
        f"{sql_tile_y('d.lat', zoom)} AS cell_y, "
        f"{sql_cell_id('d.lat', 'd.lon', zoom)} AS cell_id "
        f"FROM ({docs_sql}) d"
    )


def sql_knn_dup_names(docs_sql: str, k: int = 5, zoom: int = CELL_ZOOM) -> str:
    dist = sql_haversine_km("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
    WITH pts AS (
      SELECT doc_id, name, lat, lon,
             {sql_tile_x('lon', zoom)} AS cx, {sql_tile_y('lat', zoom)} AS cy
      FROM ({docs_sql}) WHERE coalesce(name, '') <> ''
    ), pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.name,
             round({dist}, 6) AS dist_km
      FROM pts a JOIN pts b
        ON a.name = b.name AND a.doc_id < b.doc_id
       AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    )
    SELECT doc_id_a, doc_id_b, name, dist_km, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id_a ORDER BY dist_km, doc_id_b) AS rank
      FROM pairs
    ) WHERE rank <= {k}
    """


def sql_knn_dup_names_capped(
    docs_sql: str, k: int = 5, zoom: int = CELL_ZOOM, cap: int = KNN_CAP
) -> str:
    """Twin of :func:`knn_dup_names_capped_df`: neighbors limited to the
    first ``cap`` doc_ids per home (cell, name) bucket; per-doc kNN."""
    dist = sql_haversine_km("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
    WITH pts AS (
      SELECT doc_id, name, lat, lon,
             {sql_tile_x('lon', zoom)} AS cx, {sql_tile_y('lat', zoom)} AS cy
      FROM ({docs_sql}) WHERE coalesce(name, '') <> ''
    ), capped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cx * {1 << zoom} + cy, name ORDER BY doc_id) AS rn
        FROM pts
      ) WHERE rn <= {cap}
    ), pairs AS (
      SELECT a.doc_id, b.doc_id AS neighbor_id, a.name,
             round({dist}, 6) AS dist_km
      FROM pts a JOIN capped b
        ON a.name = b.name AND a.doc_id <> b.doc_id
       AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    )
    SELECT doc_id, neighbor_id, name, dist_km, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist_km, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= {k}
    """


def sql_tile_assignment(docs_sql: str, zoom: int = TILE_ZOOM) -> str:
    x, y = sql_tile_x("d.lon", zoom), sql_tile_y("d.lat", zoom)
    return (
        f"SELECT d.doc_id, d.media_ref, {zoom} AS z, {x} AS x, {y} AS y, "
        f"printf('%d/%d/%d', {zoom}, {x}, {y}) AS tile_id "
        f"FROM ({docs_sql}) d"
    )


def sql_cell_counts(docs_sql: str, zoom: int = CELL_ZOOM) -> str:
    """Plain GROUP BY twin — equality with the salted two-phase path is
    exactly what proves A4 correct."""
    return (
        f"SELECT {sql_cell_id('d.lat', 'd.lon', zoom)} AS cell_id, "
        f"count(*) AS n_docs FROM ({docs_sql}) d GROUP BY 1"
    )
