"""Per-query profile of the ``__spark_entry__.queries()`` registry.

Each named query (default: all) gets an untimed warm-up call, then a
profiled call into a ``noop`` sink. The metric window opens before the
query function is called, not at the action: ``simhash_near_dups`` runs
its signature job in a lazy ``localCheckpoint`` while its plan is built.
Python-worker nodes are the ``ArrowEvalPython``/``BatchEvalPython`` UDF
nodes and the media faces' ``MapInPandas``.
Writes ``PROFILE_<sf basename>.json`` (the ``rec`` keys below), each
query's executed plans, ``<query>.txt``, and its optimized logical plan,
``<query>.optimized.txt``, under ``--out``. The latter has the ``#<id>``
expression ids and the lambda-variable counters (``x_17``) stripped, so
two commits' plans compare with plain ``diff``.

Usage: python scripts/profile.py [--sf DIR] [--out DIR] [query ...]
"""
import argparse
import importlib.util
import json
import os
import re
import sys
import sysconfig
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def python_nodes(sql, executions):
    """Distinct Python-worker nodes, executions holding any, their rows."""
    from perfbench.probes import _seq

    nodes = execs = rows = 0
    for e in executions:
        values = sql.executionMetrics(e.executionId())
        found = [n for n in _seq(sql.planGraph(e.executionId()).allNodes())
                 if n.name() in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")]
        nodes, execs = nodes + len(found), execs + bool(found)
        for m in (m for n in found for m in _seq(n.metrics())):
            if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                rows += int(values.apply(m.accumulatorId()).replace(",", ""))
    return {"python_nodes": nodes, "python_execs": execs, "python_rows": rows}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="data directory")
    ap.add_argument("--out", default=os.path.join(ROOT, "profiles"), help="output directory")
    ap.add_argument("queries", nargs="*", help="queries() names (default: all)")
    args = ap.parse_args()
    sys.path[0] = ROOT  # the checkout, not scripts/ (see the end of this file)
    from perfbench.probes import SparkMetrics, _seq
    from serbian_osm_lint_spark.session import get_spark

    spec = importlib.util.spec_from_file_location("__spark_entry__",
                                                  os.path.join(ROOT, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    sm = SparkMetrics(spark)
    sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    queries = entry.queries()
    os.makedirs(args.out, exist_ok=True)
    out_json = os.path.join(args.out, f"PROFILE_{os.path.basename(os.path.normpath(args.sf))}.json")
    profile = {"sf": args.sf, "cores": spark.sparkContext.defaultParallelism, "queries": {}}
    for name in args.queries or list(queries):
        queries[name](spark, args.sf).write.format("noop").mode("overwrite").save()  # warm-up
        sm.jobs_since_last()
        first_job = sm.last_job
        last_exec = max((e.executionId() for e in _seq(sql.executionsList())), default=-1)
        t0 = time.perf_counter()
        df = queries[name](spark, args.sf)
        t1 = time.perf_counter()
        # the sink plans a command of its own, outside ``df``'s phase tracker
        df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        # + job_s, shuffle/spill/input bytes, task_skew, tasks per completed stage
        rec = {"build_s": round(t1 - t0, 3), "action_s": round(time.perf_counter() - t2, 3),
               "phases_s": SparkMetrics.phases_s(df), **sm.jobs_since_last(skew=True)}
        ids = {int(s) for j in _seq(sm.store.jobsList(None)) if j.jobId() > first_job
               for s in _seq(j.stageIds())}
        stages = sm.store.stageList(None, False, False, sm._no_quantiles, None)  # noqa: SLF001
        rec["stage_tasks"] = {str(s.stageId()): s.numTasks() for s in _seq(stages)
                              if s.stageId() in ids and str(s.status()) == "COMPLETE"}
        execs = [e for e in _seq(sql.executionsList()) if e.executionId() > last_exec]
        profile["queries"][name] = rec = {**rec, **python_nodes(sql, execs)}
        with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
            fh.writelines(f"== execution {e.executionId()}: {e.description()}\n"
                          f"{e.physicalPlanDescription()}\n" for e in execs)
        with open(os.path.join(args.out, f"{name}.optimized.txt"), "w") as fh:
            plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
            fh.write(re.sub(r"#\d+|(?<=lambda [a-z])_\d+", "", plan))
        with open(out_json, "w") as fh:
            json.dump(profile, fh, indent=1)
        print(json.dumps({name: rec}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
else:
    # scripts/ leads sys.path for a sibling script, so cProfile's ``import
    # profile`` (pyspark imports cProfile) lands here: stand in the stdlib one
    std = importlib.util.spec_from_file_location(
        "profile", os.path.join(sysconfig.get_paths()["stdlib"], "profile.py"))
    sys.modules["profile"] = importlib.util.module_from_spec(std)
    std.loader.exec_module(sys.modules["profile"])
