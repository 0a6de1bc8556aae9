# -*- coding: utf-8 -*-
"""J3 disambiguation walk: planted shapes behave per the reference bound
(src/checks.py:46-134); S8 proposed fixes stay consistent with verdicts."""

import pytest
from conftest import SF_SMALL

from serbian_osm_lint_spark.synth import CYR_NAMES


def _name_idx(name):
    return CYR_NAMES.index(name)


def test_wiki_guess_shapes(spark):
    from serbian_osm_lint_spark.operators import wikiwalk
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    rows = wikiwalk.wiki_guess_df(spark, docs).collect()
    assert len(rows) > 0
    for r in rows:
        m = wikiwalk.guess_shape(_name_idx(r.name))
        if m == 0:  # direct valid page: depth 1, guess == name
            assert r.depth == 1 and r.guess_title == r.name
        elif m == 1:  # disambig: link 1 lacks coords, link 2 wins at depth 2
            assert r.depth == 2 and r.guess_title == f"{r.name} (насеље)"
        else:  # m==2 (4-chain, depth bound) and m==3 (missing page): no guess
            raise AssertionError(f"unexpected guess for shape {m}: {r}")


def test_wiki_guess_depth_bound_kills_long_chain(spark):
    """The m==2 names have a valid page at depth 4 — reference bails at
    depth > 3 (src/checks.py:69-71), so no guess may surface."""
    from serbian_osm_lint_spark.operators import wikiwalk
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    got_names = {r.name for r in wikiwalk.wiki_guess_df(spark, docs).collect()}
    for name in got_names:
        assert wikiwalk.guess_shape(_name_idx(name)) in (0, 1)


def test_proposed_fixes_consistent_with_verdicts(spark):
    from serbian_osm_lint_spark.operators import fixes
    from serbian_osm_lint_spark.plans import lint_pipeline
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    wiki, _ = catalog.dims_tables(spark, SF_SMALL)
    fx = fixes.proposed_fixes_df(spark, docs, wiki).collect()
    assert len(fx) > 0
    verdicts = {
        (r.doc_id, r.map_name, r.check_name): (r.result, r.fixable)
        for r in lint_pipeline.build_verdicts(spark, SF_SMALL).collect()
    }
    from serbian_osm_lint_spark.functions.translit import cyr2lat_py, has_cyrillic_py

    for r in fx:
        key = (r.doc_id, r.map_name, r.check_name)
        result, fixable = verdicts[key]
        # every proposed fix targets a fixable CHECKED_ERROR verdict
        assert result == "CHECKED_ERROR", key
        assert fixable, key
        if r.action == "delete":
            assert r.new_val is None
        elif r.tag == "name:sr-Latn":
            assert not has_cyrillic_py(r.new_val)
            assert cyr2lat_py(r.new_val) == r.new_val  # already latin
        elif r.tag == "wikipedia":
            assert r.new_val.startswith("sr:")
        elif r.tag == "wikidata":
            assert r.new_val.startswith("Q")
        elif r.tag == "is_in:country":
            assert r.new_val == "Serbia"


def test_proposed_fixes_runs_the_guess_walk_once(spark):
    """C6 and C7 share one guess walk over their disjoint error sets, so
    the optimized plan holds exactly one Window (the walk's preorder
    pick), not one per check."""
    import re

    from serbian_osm_lint_spark.operators import fixes
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    wiki, _ = catalog.dims_tables(spark, SF_SMALL)
    plan = fixes.proposed_fixes_df(spark, docs, wiki)._jdf.queryExecution().optimizedPlan()
    assert len(re.findall(r"^[\s:|+-]*Window \[", plan.toString(), re.M)) == 1


@pytest.mark.parametrize("query, scans", [("wiki_guess", 1), ("proposed_fixes", 2)])
def test_guess_walk_scans_its_entities_once(spark, query, scans):
    """The walk joins its dims first and its entities once, so the doc
    table (the relation carrying ``spans``) is scanned once per walk —
    plus once for ``proposed_fixes``' tag-fix branch — not per level."""
    import re

    from serbian_osm_lint_spark.operators import fixes, wikiwalk
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    wiki, _ = catalog.dims_tables(spark, SF_SMALL)
    df = {
        "wiki_guess": lambda: wikiwalk.wiki_guess_df(spark, docs),
        "proposed_fixes": lambda: fixes.proposed_fixes_df(spark, docs, wiki),
    }[query]()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"^[\s:|+-]*Relation \[[^\]]*\bspans#", plan, re.M)) == scans


def test_guess_walk_tag_is_map_dependent(spark):
    """VERDICT r2 item 2: the walk uses `name` on the Serbia map and
    `name:sr` elsewhere (src/checks.py:409-410,477-478). An entity whose
    Latin `name` differs from its Cyrillic `name:sr` gets a guess ONLY on
    the non-Serbia map (NameCyrillicCheck fails on the Latin `name` for
    the Serbia map); the reverse holds for cyrillic-name/latin-name:sr."""
    from serbian_osm_lint_spark.operators import wikiwalk
    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.synth import scalar_tags_py
    from serbian_osm_lint_spark.functions.translit import has_cyrillic_py

    # sf0.01: the smallest cyr-name/latin-name:sr candidate with a
    # resolvable page shape is k=164, past the 150-doc sf0.001 corpus
    docs = catalog.docs_table(spark, "/root/testdata/sf0.01")
    by_map = {}
    for r in wikiwalk.wiki_guess_df(spark, docs).collect():
        by_map.setdefault(r.map_name, {})[r.doc_id] = r.name
    serbia = next(v for k, v in by_map.items() if "Serbia" in k)
    other = next(v for k, v in by_map.items() if "Serbia" not in k)

    n_docs = docs.count()
    lat_name_cyr_sr = cyr_name_lat_sr = 0
    for k in range(n_docs):
        t = scalar_tags_py(k)
        if t["place"] not in ("city", "town", "village"):
            continue
        if t["is_in:country"] not in (None, "Serbia") or t["wikipedia"] is not None:
            continue
        name, name_sr = t["name"], t["name:sr"]
        if not name:
            continue
        doc_id = t["doc_id"]
        shape_ok = lambda n: n is not None and wikiwalk.guess_shape(
            CYR_NAMES.index(n)
        ) in (0, 1)
        if not has_cyrillic_py(name) and name_sr and has_cyrillic_py(name_sr):
            # Latin name, Cyrillic name:sr -> guess only on the other map
            assert doc_id not in serbia
            if shape_ok(name_sr) and t["lat"] < 46:  # resolvable page shapes
                if doc_id in other:
                    assert other[doc_id] == name_sr
                    lat_name_cyr_sr += 1
        elif has_cyrillic_py(name) and (name_sr is None or not has_cyrillic_py(name_sr)):
            # Cyrillic name, Latin/absent name:sr -> guess only on Serbia map
            assert doc_id not in other
            if doc_id in serbia:
                assert serbia[doc_id] == name
                cyr_name_lat_sr += 1
    # both divergence classes must actually occur in the corpus
    assert lat_name_cyr_sr > 0
    assert cyr_name_lat_sr > 0
