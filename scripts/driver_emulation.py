"""Emulate the driver's verify protocol against __spark_entry__.py.

Fresh-process consumption of the module surface: smoke entry(spark), then
run the queries() entries side-by-side with their oracle_sql() on DuckDB
and compare row-count + schema + order-insensitive value hash. Naming
queries runs only those — the fast inner loop while optimizing a single
operator. Cores come from SPARK_GRAFT_CPUS; tests import ``norm``/``vhash``.
The normal form and hash are ``perfbench/run.py``'s check rule, imported,
so the replay and the benchmark compare results one way.

Usage: python scripts/driver_emulation.py [--sf DIR] [query ...]
"""
import argparse
import importlib.util
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.run import digest, norm  # noqa: E402

ap = argparse.ArgumentParser()
ap.add_argument("--sf", default="/root/testdata/sf0.01", help="data directory")
ap.add_argument("queries", nargs="*", help="queries() names (default: all)")


def vhash(df) -> str:
    """md5 of the normal form (``norm`` is idempotent, so a normed frame
    hashes as itself)."""
    return digest(df)["md5"]


def main():
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from serbian_osm_lint_spark.session import get_spark

    spark = get_spark("driver-emulation")
    spark.sparkContext.setLogLevel("ERROR")

    # t1 smoke
    edf = mod.entry(spark)
    rows = edf.collect()
    print(f"entry: rows={len(rows)} schema={[f.name for f in edf.schema.fields]}")
    assert len(rows) > 0

    con = duckdb.connect()
    for name in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{args.sf}/{name}.parquet'")

    queries, oracles = mod.queries(), mod.oracle_sql()
    names = args.queries or sorted(queries)
    ok = True
    for name in names:
        sdf = norm(queries[name](spark, args.sf).toPandas())
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} oracle=none", flush=True)
            continue
        odf = norm(con.execute(oracles[name]).df())
        schema_match = list(sdf.columns) == list(odf.columns)
        match = schema_match and len(sdf) == len(odf) and vhash(sdf) == vhash(odf)
        ok = ok and match
        print(
            f"{name}: rows={len(sdf)}/{len(odf)} schema_match={schema_match} value_match={match}",
            flush=True,
        )
    print("ALL MATCH" if ok else "MISMATCH", f"({len(names)} queries, sf={args.sf})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
