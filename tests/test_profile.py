# -*- coding: utf-8 -*-
"""The per-query profiler (scripts/profile.py): one run over four
registry queries writes every key, executed plan and diffable optimized
plan, opens its window before the
query function is called (the SimHash recompute face's checkpoint runs
while its plan is built), and counts the Python-worker nodes the media
faces' ``mapInPandas`` runs."""

import json
import os
import re
import subprocess
import sys

from conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["simhash_near_dups", "simhash_near_dups_stored", "lint_verdicts", "media_features"]
KEYS = {"build_s", "phases_s", "action_s", "job_s", "shuffle_bytes", "spill_bytes",
        "input_bytes", "task_skew", "stage_tasks", "python_nodes", "python_execs",
        "python_rows"}


def test_profile_records_every_query_and_python_stage(spark, tmp_path):
    from serbian_osm_lint_spark.operators import media
    from serbian_osm_lint_spark.sources import catalog

    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "profile.py"),
         "--sf", SF_SMALL, "--out", str(tmp_path), *QUERIES],
        check=True, capture_output=True, text=True,
    )
    prof = json.loads((tmp_path / "PROFILE_sf0.001.json").read_text())
    assert prof["sf"] == SF_SMALL and list(prof["queries"]) == QUERIES
    for name, rec in prof["queries"].items():
        assert KEYS <= set(rec), name
        assert rec["stage_tasks"] and all(n > 0 for n in rec["stage_tasks"].values()), name
        assert (tmp_path / f"{name}.txt").stat().st_size > 0, name
        # optimized logical plan, diffable across commits: no expression
        # ids, no lambda-variable counters
        plan = (tmp_path / f"{name}.optimized.txt").read_text()
        assert plan and not re.search(r"#\d|lambda [a-z]_\d", plan), name
    assert "lambda x" in (tmp_path / "lint_verdicts.optimized.txt").read_text()

    # the grouped-signature checkpoint executes inside the window, while
    # the plan is built, ahead of the consuming action
    checkpoint = (tmp_path / "simhash_near_dups.txt").read_text().split("== execution")[1]
    assert "localCheckpoint" in checkpoint.splitlines()[0]
    for name in ("simhash_near_dups", "simhash_near_dups_stored", "lint_verdicts"):
        rec = prof["queries"][name]
        assert rec["python_nodes"] == rec["python_execs"] == rec["python_rows"] == 0, name
    media_rec = prof["queries"]["media_features"]  # mapInPandas: one row per payload fed
    assert media_rec["python_nodes"] >= 1 and media_rec["python_execs"] >= 1
    payloads = media._payloads_with_fixtures(spark, catalog.docs_table(spark, SF_SMALL))
    assert media_rec["python_rows"] == payloads.count() > 0
