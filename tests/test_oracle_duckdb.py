# -*- coding: utf-8 -*-
"""Differential oracle: every queries() entry vs its oracle_sql() twin on
DuckDB at sf0.001 (the driver repeats this at sf0.01). Both frames go
through ``scripts/driver_emulation.py``'s ``norm`` and ``vhash``, so this
suite and the replay script compare by one rule."""

import pytest

import __spark_entry__ as entry_mod
from conftest import SF_SMALL
from scripts.driver_emulation import norm, vhash

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_matches_oracle(spark, duck, name):
    if name not in ORACLES:
        pytest.skip(f"{name} has no SQL oracle (rows-only contract)")
    sdf = norm(QUERIES[name](spark, SF_SMALL).toPandas())
    odf = norm(duck.execute(ORACLES[name]).df())
    assert list(sdf.columns) == list(odf.columns), (sdf.columns, odf.columns)
    assert len(sdf) == len(odf), f"row count {len(sdf)} vs {len(odf)}"
    assert vhash(sdf) == vhash(odf), sdf.compare(odf).head()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
